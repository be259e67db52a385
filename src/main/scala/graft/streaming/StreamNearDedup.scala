package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One (document, LSH-chunk) membership row entering the streaming
  * near-dedup state: `ck` packs (chunk index, chunk value) into one
  * long key, `id` is the arrival-ordered ingest id, `fp` the full
  * SimHash fingerprint for the exact verify. */
final case class ChunkDoc(ck: Long, id: Long, fp: Long)

/** A near-duplicate hit: `id` arrived after `earlier` and is within
  * `hamming` of it. A document may be reported through several chunk
  * buckets; consumers take `DISTINCT id` (or min(earlier)). */
final case class NearHit(id: Long, earlier: Long, hamming: Int)

/** Per-bucket state: every (id, fp) seen in this chunk bucket, packed
  * as two parallel arrays for a compact state-store encoding. */
final case class BucketSeen(ids: Array[Long], fps: Array[Long])

/** Continuous NEAR-duplicate detection for streaming ingestion — the
  * streaming face of [[graft.operators.Dedup.simHashPairs]]: a
  * document is flagged when an EARLIER-ARRIVED document lies within
  * `maxHamming` of its SimHash fingerprint, across micro-batches.
  * This is the crawler front door one step past [[StreamDedup]]:
  * boilerplate re-renders and lightly-edited re-crawls don't hash
  * equal, but they do land within a few SimHash bits.
  *
  * Mechanics: upstream explodes each doc into (maxHamming+1) chunk
  * keys of its fingerprint (pigeonhole: a pair within hamming d
  * agrees exactly on ≥1 of d+1 chunks, so chunk-equality candidates
  * are EXACT — no recall loss); this operator keys state by chunk
  * value and verifies XOR-popcount inside the bucket. Per bucket the
  * state is every seen (id, fp) — 16 bytes per doc per chunk, capped
  * at `maxBucket` (the same whale discipline as the batch operator:
  * run exact dedup FIRST so verbatim floods never reach here).
  *
  * Arbitration contract: "earlier" means smaller ingest id, and ids
  * must be assigned in arrival order (the [[StreamDedup]] q106
  * convention — re-deliveries get fresh, larger ids). Within a batch
  * the group is processed in id order, so replays produce the
  * identical hit set; the DuckDB oracle replays the whole thing as
  * "∃ smaller-id doc within hamming" over the union of batches.
  *
  * At 100 TB: state is O(docs × (d+1)) × 16 B, hash-partitioned by
  * chunk value (one shuffle); the RocksDB state backend is the
  * memory knob (SURVEY §4), and watermark+TTL bounds the horizon the
  * same way it does for exact streaming dedup.
  */
object StreamNearDedup {

  /** Block-count dial for [[explodeChunks]] — the STREAMING analog of
    * [[graft.operators.Dedup.autoSimHashBlocks]], same formula, same
    * clamps, because the cliff is the same: at the default
    * blocks = maxHamming + 1, a 60-bit fingerprint gives 15-bit bucket
    * keys — 32k buckets per chunk index — so at 100M documents each
    * bucket holds ~3,000 fingerprints and the exact in-bucket verify
    * goes quadratic (the 1M-doc rehearsal measured that shape on the
    * semantic twin). A deployer sizes `expectedDocs` from the corpus
    * estimate (or [[graft.operators.Similarity.corpusCount]] on the
    * batch store the stream lands in); more blocks → wider combo keys
    * → occupancy ~`targetOccupancy` regardless of corpus size, with
    * per-doc key replication C(blocks, maxHamming) clamped ≤ 256.
    * Additionally clamped so the packed (combo, bits) key fits the
    * 63-bit [[ChunkDoc.ck]]. */
  def autoBlocks(expectedDocs: Long, maxHamming: Int = 3, bits: Int = 60,
                 targetOccupancy: Int = 64): Int = {
    val b = graft.operators.Dedup.autoSimHashBlocks(expectedDocs, maxHamming, targetOccupancy, bits)
    (b to (maxHamming + 1) by -1).find(keyFitsLong(_, maxHamming, bits)).getOrElse(maxHamming + 1)
  }

  /** C(blocks, maxHamming) — the per-doc key replication of the Manku
    * combination scheme (= C(blocks, blocks - maxHamming), the number
    * of ways to choose the intact blocks). Exposed so rehearsal /
    * sizing math shares the operator's own count. */
  def combinations(blocks: Int, maxHamming: Int): Long = {
    var c = 1L
    var i = 1
    while (i <= maxHamming) { c = c * (blocks - maxHamming + i) / i; i += 1 }
    c
  }

  private def comboIndexBits(blocks: Int, maxHamming: Int): Int = {
    val c = combinations(blocks, maxHamming)
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(c - 1, 1L)))
  }

  private def keyFitsLong(blocks: Int, maxHamming: Int, bits: Int): Boolean = {
    // selected bits = the (blocks − maxHamming) WIDEST blocks' widths
    val widths = (0 until blocks).map(c => bits / blocks + (if (c < bits % blocks) 1 else 0))
    val sel = widths.sorted.reverse.take(blocks - maxHamming).sum
    comboIndexBits(blocks, maxHamming) + sel <= 63
  }

  /** The state-key packing scheme id of this build. "v2" = per-block
    * width shifts (round 14); "v1" (rounds ≤ 13) shifted every block
    * by the max width. Bumped whenever [[explodeChunks]]' packed `ck`
    * values change for ANY (bits, blocks, maxHamming) dial. */
  val KeyScheme = "v2"

  /** True iff the dial packs bit-identically under v1 and v2 — blocks
    * all the same width, i.e. the max-width shift IS the per-block
    * shift. Such checkpoints are safe to adopt across the upgrade. */
  def schemeCompatibleAcrossV1(bits: Int, blocks: Int): Boolean = bits % blocks == 0

  /** One-line descriptor of the exact key layout a running query
    * writes state under; persisted as the checkpoint marker body. */
  def schemeTag(maxHamming: Int, bits: Int, blocks: Int): String =
    s"$KeyScheme:bits=$bits:blocks=$blocks:maxHamming=$maxHamming"

  /** Guard a streaming query's checkpoint against the silent-recall
    * loss of resuming state written under a DIFFERENT key packing
    * (the upgrade hazard documented on [[explodeChunks]]). Call with
    * the query's `checkpointLocation` BEFORE `start()`:
    *
    *  - fresh checkpoint → stamps `_GRAFT_KEY_SCHEME` with
    *    [[schemeTag]] and returns;
    *  - marker present and equal → returns (same scheme, same dial);
    *  - marker present but different → IllegalStateException naming
    *    both tags (changing the dial ALSO re-keys state — same
    *    hazard, same refusal);
    *  - NO marker but Spark offsets exist → the checkpoint predates
    *    scheme versioning (≤ round 13 build). If the dial is
    *    bit-identical across v1/v2 ([[schemeCompatibleAcrossV1]]) the
    *    marker is adopted in place; otherwise IllegalStateException —
    *    drain the old query at a batch boundary and restart with a
    *    fresh checkpoint.
    *
    * Resolves paths through the checkpoint's own Hadoop FileSystem,
    * so non-`file:` checkpoint stores (HDFS/S3A) are first-class. */
  def ensureCheckpointScheme(spark: org.apache.spark.sql.SparkSession,
                             checkpointDir: String, maxHamming: Int,
                             bits: Int = 60, blocks: Int = 0): Unit = {
    val b = if (blocks <= 0) maxHamming + 1 else blocks
    val tag = schemeTag(maxHamming, bits, b)
    val root = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_GRAFT_KEY_SCHEME")
    def write(): Unit = {
      val out = fs.create(marker, true)
      try out.write(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val found = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      if (found != tag) throw new IllegalStateException(
        s"StreamNearDedup: checkpoint $checkpointDir was written under key scheme '$found' " +
        s"but this query packs '$tag' — resuming would strand historical fingerprints under " +
        "unreachable keys (silent recall loss). Drain the old query at a batch boundary and " +
        "restart with a fresh checkpoint (or restore the original dial).")
    } else {
      val hasOffsets = {
        val off = new org.apache.hadoop.fs.Path(root, "offsets")
        fs.exists(off) && fs.listStatus(off).nonEmpty
      }
      if (hasOffsets && !schemeCompatibleAcrossV1(bits, b)) throw new IllegalStateException(
        s"StreamNearDedup: checkpoint $checkpointDir has no _GRAFT_KEY_SCHEME marker but already " +
        s"contains batches — it predates key-scheme versioning (v1 packing), and bits=$bits " +
        s"blocks=$b packs differently under $KeyScheme. Drain the old query and restart fresh.")
      write()
    }
  }

  /** Explode an (id, fp) frame into the chunk-combination memberships
    * [[nearHitsPerChunk]] keys its state by. Lives HERE — next to the
    * operator whose pigeonhole guarantee it carries — so a caller
    * can't silently raise maxHamming without the key scheme following.
    *
    * `blocks` defaults to maxHamming + 1 (one block per key: d flipped
    * bits touch ≤ d of the d+1 blocks, so ≥ 1 survives intact — the
    * q106b gate's oracled dial). Larger `blocks` switches to the Manku
    * combination scheme of the batch operator: keys are the
    * C(blocks, blocks−maxHamming) ways to choose blocks − maxHamming
    * blocks, concatenated — a pair within hamming d still agrees on
    * ≥ blocks − d whole blocks, so ≥ 1 combination key collides and
    * candidates stay EXACT, while each key carries ~(blocks−d)/blocks
    * of the fingerprint's bits and bucket occupancy falls
    * exponentially. Size it with [[autoBlocks]]. Chunk widths split
    * `bits` evenly, wider blocks first (the batch convention).
    *
    * STATE-KEY FORMAT (round 14, scheme "v2"): keys pack per-block
    * widths (`ci << w1 | blk1 …`) where the pre-combination scheme
    * shifted by the max width — for configurations where
    * `bits % blocks != 0` the packed values differ, so a checkpoint
    * written by the old scheme must be DRAINED (stop at a batch
    * boundary, restart fresh) before upgrading; resuming it would
    * leave historical fingerprints under unreachable keys (silent
    * recall loss). The default 60-bit / maxHamming-3 gate
    * configuration divides evenly and is bit-identical across the
    * change. This contract is ENFORCED, not advisory: call
    * [[ensureCheckpointScheme]] on the query's checkpoint directory
    * before `start()` — it stamps a `_GRAFT_KEY_SCHEME` marker on a
    * fresh checkpoint and FAILS FAST on one written by a different
    * packing (or by any pre-versioned build, unless the dial is
    * bit-identical across schemes). */
  def explodeChunks(df: org.apache.spark.sql.DataFrame, maxHamming: Int,
                    bits: Int = 60, blocks: Int = 0)(
      implicit cEnc: Encoder[ChunkDoc]): Dataset[ChunkDoc] = {
    import org.apache.spark.sql.functions._
    val b = if (blocks <= 0) maxHamming + 1 else blocks
    require(maxHamming >= 1 && b >= maxHamming + 1 && b <= bits,
      s"blocks $b must lie in [maxHamming+1=${maxHamming + 1}, bits=$bits]")
    require(keyFitsLong(b, maxHamming, bits),
      s"blocks=$b maxHamming=$maxHamming bits=$bits: packed combo key exceeds 63 bits")
    val widths = (0 until b).map(c => bits / b + (if (c < bits % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val combos = (0 until b).combinations(b - maxHamming).toSeq
    require(combos.size <= 4096, s"C($b, ${b - maxHamming}) = ${combos.size} keys per doc — lower blocks")
    // One row per combination (its index; per chosen block the width,
    // offset and mask that pack it), folded into the key by one lambda:
    // code size does not grow with the combination count, which passed
    // Janino's 64 KB method limit at the autoBlocks dials when unrolled.
    val table = typedLit(combos.zipWithIndex.map { case (sel, ci) =>
      (ci.toLong, sel.map(blk => (widths(blk), offsets(blk), (1L << widths(blk)) - 1)))
    })
    df.select(explode(transform(table, c =>
        aggregate(c("_2"), c("_1"), (acc, blk) =>
          call_function("shiftleft", acc, blk("_1")).bitwiseOR(
            call_function("shiftright", col("fp"), blk("_2")).bitwiseAND(blk("_3")))))).as("ck"),
      col("id"), col("fp"))
      .as[ChunkDoc]
  }

  def nearHitsPerChunk(docs: Dataset[ChunkDoc], maxHamming: Int,
                       maxBucket: Int = 4096)(
      implicit hEnc: Encoder[NearHit]): Dataset[NearHit] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.ck)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (ck: Long, it: Iterator[ChunkDoc], state: GroupState[BucketSeen]) => {
          val seen = state.getOption.getOrElse(BucketSeen(Array.empty, Array.empty))
          var ids = seen.ids
          var fps = seen.fps
          var n = ids.length
          val batch = it.toArray.sortBy(_.id) // id order == arrival order
          val out = Seq.newBuilder[NearHit]
          for (d <- batch) {
            // exact verify against every earlier doc in this bucket;
            // report the SMALLEST matching earlier id (deterministic).
            // A found flag, not a -1 sentinel: ingest ids may be
            // negative, and a negative match must still emit.
            var found = false
            var bestId = 0L
            var bestH = maxHamming + 1
            var i = 0
            while (i < n) {
              if (ids(i) < d.id) {
                val h = java.lang.Long.bitCount(fps(i) ^ d.fp)
                if (h <= maxHamming && (!found || ids(i) < bestId)) {
                  found = true; bestId = ids(i); bestH = h
                }
              }
              i += 1
            }
            if (found) out += NearHit(d.id, bestId, bestH)
            if (n < maxBucket) {
              if (n == ids.length) {
                val grow = math.max(8, n * 2)
                ids = java.util.Arrays.copyOf(ids, grow)
                fps = java.util.Arrays.copyOf(fps, grow)
              }
              ids(n) = d.id; fps(n) = d.fp; n += 1
            }
          }
          state.update(BucketSeen(
            java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(fps, n)))
          out.result().iterator
        })
  }
}
