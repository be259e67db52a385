package graft

import graft.streaming.{ChunkDoc, NearHit, StreamNearDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Continuous SimHash near-dedup: a doc is flagged when an
  * earlier-arrived doc lies within maxHamming, across batches; the
  * chunk-keyed candidate route at maxHamming=3 / 4 chunks is exact by
  * pigeonhole, so hits equal the quadratic ∃-earlier check. */
class StreamNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private def chunks(id: Long, fp: Long): Seq[ChunkDoc] =
    (0 until 4).map(c => ChunkDoc(c.toLong * 32768L + ((fp >> (c * 15)) & 32767L), id, fp))

  test("flags near-dups across batches; exact pigeonhole equals quadratic check") {
    implicit val sqlCtx = spark.sqlContext
    val fpA = 0x0123456789ABCL
    val fpA1 = fpA ^ 0x5L          // hamming 2 from fpA
    val fpA3 = fpA ^ (7L << 20)    // hamming 3 from fpA
    val fpFar = fpA ^ 0x0F0F0F0FL  // hamming 16 — not a near-dup
    val fpB = 0x7FFF00000000FL
    val input = MemoryStream[ChunkDoc]
    val out = StreamNearDedup.nearHitsPerChunk(input.toDS(), maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("neardedup_out")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: A, B, and an in-batch near-dup of A (id order decides)
      input.addData(chunks(1L, fpA) ++ chunks(2L, fpB) ++ chunks(3L, fpA1): _*)
      q.processAllAvailable()
      // batch 2: a hamming-3 edit of A (cross-batch state hit), one far doc
      input.addData(chunks(10L, fpA3) ++ chunks(11L, fpFar): _*)
      q.processAllAvailable()
      // batch 3: exact replay of B
      input.addData(chunks(20L, fpB): _*)
      q.processAllAvailable()

      val got = spark.table("neardedup_out").as[NearHit].collect()
        .map(h => h.id -> ((h.earlier, h.hamming))).toMap
      assert(got == Map(
        3L -> ((1L, 2)),   // in-batch near-dup, smallest earlier id wins
        10L -> ((1L, 3)),  // cross-batch state hit at the hamming bound
        20L -> ((2L, 0)))) // exact replay

      // pigeonhole exactness: hits == quadratic ∃-earlier over the union
      val all = Seq((1L, fpA), (2L, fpB), (3L, fpA1), (10L, fpA3), (11L, fpFar), (20L, fpB))
      val quad = (for {
        (id, fp) <- all
        cands = all.filter { case (e, efp) =>
          e < id && java.lang.Long.bitCount(efp ^ fp) <= 3 }
        if cands.nonEmpty
      } yield id -> cands.map(_._1).min).toMap
      assert(got.map { case (id, (e, _)) => id -> e } == quad)
    } finally q.stop()
  }

  test("negative ingest ids still match and arbitrate (no -1 sentinel confusion)") {
    implicit val sqlCtx = spark.sqlContext
    val fp = 0x2222L
    val input = MemoryStream[ChunkDoc]
    val out = StreamNearDedup.nearHitsPerChunk(input.toDS(), maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("neardedup_neg")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(chunks(-5L, fp) ++ chunks(3L, fp) ++ chunks(7L, fp): _*)
      q.processAllAvailable()
      val got = spark.table("neardedup_neg").as[NearHit].collect()
        .map(h => h.id -> h.earlier).toMap
      assert(got == Map(3L -> -5L, 7L -> -5L))
    } finally q.stop()
  }

  test("Manku combination keys (blocks > maxHamming+1) stay pigeonhole-exact") {
    // xxhash-derived pseudo-random 60-bit fps plus planted near-dups;
    // explodeChunks at an auto-dialed block count must yield EXACTLY
    // the quadratic ∃-smaller-id-within-hamming verdicts
    val d = 3
    val base = (1L to 40L).map(i =>
      i -> (scala.util.hashing.MurmurHash3.stringHash(s"fp$i").toLong & 0xFFFFFFFFL |
            ((scala.util.hashing.MurmurHash3.stringHash(s"hi$i").toLong & 0x0FFFFFFFL) << 32)))
    val planted = Seq(
      101L -> (base(4)._2 ^ 0x3L),          // hamming 2 of doc 5
      102L -> (base(9)._2 ^ (1L << 45)),    // hamming 1 of doc 10
      103L -> (base(0)._2 ^ 0xFL))          // hamming 4 — OUTSIDE d=3
    val all = base ++ planted
    val blocks = StreamNearDedup.autoBlocks(expectedDocs = 100000000L, maxHamming = d)
    assert(blocks > d + 1, s"dial should exceed the minimum at 100M docs, got $blocks")
    val df = all.toDF("id", "fp")
    val exploded = StreamNearDedup.explodeChunks(df, maxHamming = d, blocks = blocks)
    // per-doc key count is C(blocks, d), the documented replication
    val perDoc = exploded.groupBy("id").count().select("count").distinct().collect()
    def c(n: Int, k: Int): Long = (1 to k).foldLeft(1L)((a, i) => a * (n - k + i) / i)
    assert(perDoc.map(_.getLong(0)).toSeq == Seq(c(blocks, d)))
    // batch-mode equivalence check of the candidate route: group by ck,
    // verify in-bucket, compare against the quadratic reference
    val hits = exploded.as[ChunkDoc].collect().toSeq.groupBy(_.ck).values.toSeq.flatMap { bucket =>
      for {
        a <- bucket; b <- bucket
        if b.id < a.id && java.lang.Long.bitCount(a.fp ^ b.fp) <= d
      } yield a.id -> b.id
    }.groupBy(_._1).map { case (id, es) => id -> es.map(_._2).min }
    val quad = (for {
      (id, fp) <- all
      cands = all.filter { case (e, efp) =>
        e < id && java.lang.Long.bitCount(efp ^ fp) <= d }
      if cands.nonEmpty
    } yield id -> cands.map(_._1).min).toMap
    assert(hits == quad, "combination-key candidates diverged from the quadratic reference")
    assert(quad.contains(101L) && quad.contains(102L) && !quad.contains(103L))
  }

  test("autoBlocks clamps to a 63-bit packable key and the combo-count cap") {
    // tiny corpus → the minimum (maxHamming+1); huge corpus → more
    // blocks, never an unpackable key, C(blocks, d) ≤ 256
    def c(n: Int, k: Int): Long = (1 to k).foldLeft(1L)((a, i) => a * (n - k + i) / i)
    for (d <- 1 to 6; n <- Seq(1000L, 1000000L, 1000000000L, 100000000000L)) {
      val b = StreamNearDedup.autoBlocks(n, maxHamming = d)
      assert(b >= d + 1 && c(b, d) <= 256, s"d=$d n=$n b=$b")
      // must construct without throwing the 63-bit packing guard
      StreamNearDedup.explodeChunks(Seq((1L, 42L)).toDF("id", "fp"), d, blocks = b).collect()
    }
    assert(StreamNearDedup.autoBlocks(100L, maxHamming = 3) == 4)
    // streaming semantic twin: the plane dial is the batch dial
    assert(graft.streaming.StreamSemanticDedup.autoPlanes(1000000L) ==
      graft.operators.Similarity.autoPlanes(1000000L))
    assert(graft.streaming.StreamSemanticDedup.autoPlanes(256L * 64L) == 8)
  }

  test("combination keys equal the per-combination packing formula at every autoBlocks dial") {
    // 60-bit fingerprints plus a negative one (shiftright is arithmetic)
    val docs = Seq(1L -> 0x0123456789ABCL, 2L -> 0x0FFFFFFFFFFFFFFFL, 3L -> 0L,
      4L -> 0x0FEDCBA987654321L, 5L -> -0x123456789L)
    // the key of combination `ci` over blocks `sel`: ci, then each
    // block's bits, packed at the block's own width (scheme v2)
    def expected(d: Int, b: Int): Seq[(Long, Long)] = {
      val widths = (0 until b).map(c => 60 / b + (if (c < 60 % b) 1 else 0))
      val offsets = widths.scanLeft(0)(_ + _)
      for ((id, fp) <- docs; (sel, ci) <- (0 until b).combinations(b - d).toSeq.zipWithIndex)
        yield id -> sel.foldLeft(ci.toLong)((acc, k) =>
          (acc << widths(k)) | ((fp >> offsets(k)) & ((1L << widths(k)) - 1)))
    }
    val dials = (for (d <- 1 to 6; n <- Seq(1000L, 1000000000L, 100000000000L))
      yield d -> StreamNearDedup.autoBlocks(n, maxHamming = d)).distinct :+ (2 -> 7)
    assert(dials.map { case (d, b) => StreamNearDedup.combinations(b, d) }.max > 200)
    assert(StreamNearDedup.KeyScheme == "v2")
    // a generated method past 64 KB fails here instead of falling back
    withConf("spark.sql.codegen.fallback" -> "false") {
      for ((d, b) <- dials) {
        val got = StreamNearDedup.explodeChunks(docs.toDF("id", "fp"), d, blocks = b)
          .collect().toSeq.map(c => c.id -> c.ck)
        assert(got.sorted == expected(d, b).sorted, s"maxHamming=$d blocks=$b")
      }
    }
  }

  test("whale cap bounds state; capped docs still verify against the first entries") {
    implicit val sqlCtx = spark.sqlContext
    val fp = 0x1111L
    val input = MemoryStream[ChunkDoc]
    val out = StreamNearDedup.nearHitsPerChunk(input.toDS(), maxHamming = 3, maxBucket = 2)
    val q = out.writeStream.format("memory").queryName("neardedup_cap")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData((1L to 5L).flatMap(i => chunks(i, fp)): _*)
      q.processAllAvailable()
      val got = spark.table("neardedup_cap").as[NearHit].collect()
        .map(h => h.id -> h.earlier).toMap
      // every doc after the first is a hit (verified against entry 1);
      // state held only 2 entries yet all five got a verdict
      assert(got == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    } finally q.stop()
  }
}
