package graft

import graft.functions.{ch, vec}
import graft.operators.{Dedup, Events, Replicate, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- vec

  test("vec.dot and vec.norm match hand computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)))
      .toDF("a", "b")
    val r = df.select(
      vec.dot(col("a"), col("b")).as("d"),
      vec.norm(col("a")).as("n")).head()
    assert(r.getDouble(0) === 1.0 * 4 - 2 * 5 + 3 * 6)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
  }

  test("native graft_dot matches the declarative formulation bit-for-bit") {
    val df = spark.range(0, 200).select(
      transform(sequence(lit(0), lit(63)),
        i => (pmod(hash($"id", i), lit(1000)) / 100.0).cast("float")).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(i, $"id"), lit(1000)) / 100.0).cast("float")).as("b"))
    val diff = df.select(
        (vec.dot($"a", $"b") - vec.dotDeclarative($"a", $"b")).as("d"))
      .agg(max(abs($"d"))).head().getDouble(0)
    assert(diff === 0.0)
  }

  // -------------------------------------------------------------- dedup

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely different content about spark engines"),
  ).toDF("doc_id", "text")
    .withColumn("norm", TextAnalysis.normalize(col("text")))

  test("Dedup.exact groups identical fingerprints and keeps min id") {
    val d = docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val groups = Dedup.exact(d, "doc_id", "fp").collect()
    val dupGroup = groups.find(_.getAs[Long]("group_size") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
    assert(groups.length == 3)
  }

  test("Dedup.dropExactDuplicates keeps one full row per fingerprint") {
    val d = docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val kept = Dedup.dropExactDuplicates(d, "doc_id", "fp")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L)) // doc 2 is the exact dup of 1
  }

  test("Dedup.ngramJaccardPairs finds exact and near duplicates") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "norm", minJaccard = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // 9 words → 7 3-gram shingles; one substituted word breaks 3 of them
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("Dedup.minHashLshPairs catches identical docs with est 1.0") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "norm",
      numHashes = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    assert(pairs((1L, 2L)) === 1.0)
  }

  test("Dedup.simHashPairs: identical docs at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "norm", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming").toLong).toMap
    assert(pairs((1L, 2L)) == 0L)
  }

  test("Dedup.clusters labels transitive components with the min id") {
    val pairs = Seq((2L, 5L), (5L, 9L), (11L, 12L)).toDF("id_a", "id_b")
    val cl = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 11L, 12L -> 11L))
  }

  test("Dedup.clusters on an empty pair set returns an empty frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusters(empty).isEmpty)
  }

  // ---------------------------------------------------------- similarity

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.001f, 0.0f)),  // ~same direction as 1
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f)),
  ).toDF("vec_id", "embedding")

  test("Similarity.bruteForceTopK ranks the near-identical vector first") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", probeId = 1L, k = 2)
      .collect()
    assert(top.head.getLong(0) == 2L && top.head.getDouble(1) === 1.0)
  }

  test("Similarity.lshAnnPairs finds the high-cosine pair (recall on near-dups)") {
    val pairs = Similarity.lshAnnPairs(vecs, "vec_id", "embedding",
      numPlanes = 4, numTables = 6, minCos = 0.9).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // antipodal pair must never appear
    assert(!pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L))
  }

  test("Similarity.semanticDedup drops exact duplicates, lowest id survives") {
    // exact copies always share every hyperplane sign → same bucket →
    // cosine 1.0 → all but the min id drop; the orthogonal vector is
    // untouched whatever bucket it lands in
    val dup = Seq(
      (10L, Array(0.6f, 0.8f, 0.0f)),
      (11L, Array(0.6f, 0.8f, 0.0f)),
      (12L, Array(0.6f, 0.8f, 0.0f)),
      (20L, Array(0.0f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(dup, "vec_id", "embedding",
      numPlanes = 4, dim = 3, minCos = 0.95).collect()
    val survived = out.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
    assert(survived == Set(10L, 20L), s"got $survived")
    // all three copies landed in one bucket
    val buckets = out.filter(_.getLong(1) < 15L).map(_.getLong(0)).toSet
    assert(buckets.size == 1)
  }

  test("Similarity.semanticDedup whale-bucket cap bounds a poisoned hot bucket") {
    // 10,000 verbatim copies of one vector all land in one bucket:
    // uncapped, the within-bucket self-join forms ~50M candidate
    // pairs; with the asymmetric representative cap at 32 the join is
    // bounded at 32 × bucket occupancy — and, unlike a symmetric
    // truncation, the flood still dedups: the lowest-id
    // representative drops every copy.
    @volatile var truncated = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft_semdedup_cap")
          .foreach(r => truncated = r.getAs[Long]("truncated_reps"))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val flood = (0L until 10000L).map(i => (i, Array(0.6f, 0.8f, 0.0f))) :+
        (99999L, Array(0.0f, 0.0f, 1.0f))
      val out = Similarity.semanticDedup(flood.toDF("vec_id", "embedding"),
        "vec_id", "embedding", numPlanes = 4, dim = 3, minCos = 0.95,
        maxBucket = 32).collect()
      assert(out.length == 10001)
      val survivors = out.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
      assert(survivors == Set(0L, 99999L), s"got ${survivors.size} survivors")
      // the cap engaged: the 10,000-row bucket kept 32 representatives
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (truncated < 0 && System.nanoTime < deadline) Thread.sleep(50)
      assert(truncated == 10000 - 32, s"truncated_reps = $truncated")
    } finally spark.listenerManager.unregister(listener)
  }

  test("Similarity.lshAnnPairs whale-bucket cap bounds a degenerate duplicate flood") {
    // 400 verbatim copies of one vector: uncapped, every table's
    // bucket yields 400·399/2 ≈ 80k candidate pairs; capped at 20,
    // at most 20·19/2 per table survive — and the lowest ids win,
    // deterministically
    val flood = (0L until 400L).map(i => (i, Array(0.6f, 0.8f, 0.0f))) :+
      (1000L, Array(0.0f, 0.0f, 1.0f))
    val pairs = Similarity.lshAnnPairs(flood.toDF("vec_id", "embedding"),
      "vec_id", "embedding", numPlanes = 4, numTables = 6, minCos = 0.9,
      maxBucket = 20).collect()
    assert(pairs.length == 20 * 19 / 2, s"expected capped pair count, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) < 20 && r.getLong(1) < 20))
    // the default cap leaves realistic buckets untouched (same result
    // as the recall test above)
    val normal = Similarity.lshAnnPairs(vecs, "vec_id", "embedding",
      numPlanes = 4, numTables = 6, minCos = 0.9).collect()
    assert(normal.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("Dedup.capBuckets keeps the k lowest ids of every bucket") {
    val rnd = new scala.util.Random(20261019L)
    val k = 5
    // occupancies straddle k (k-1, k, k+1, each twice) beside
    // singletons and whales; ids recur across buckets as they do
    // across LSH tables, but never within one
    val occ = Seq(1, k - 1, k - 1, k, k, k + 1, k + 1, 3 * k, 40)
    val rows = occ.zipWithIndex.flatMap { case (n, b) =>
      rnd.shuffle((0L until 100L).toList).take(n).map(id => (b % 3, b * 7919L, id, s"p$id"))
    }
    val df = rnd.shuffle(rows).toDF("tbl", "bk", "id", "payload")
    // both plan shapes: the TopKRewrite aggregate and the bare window
    for (cap <- Seq(1, k); rewrite <- Seq("true", "false")) withConf("spark.graft.topk.rewrite" -> rewrite) {
      val capped = Dedup.capBuckets(df, Seq("tbl", "bk"), "id", cap)
      assert(capped.columns.toSeq == df.columns.toSeq)
      val got = capped.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq.sorted
      val want = rows.groupBy(r => (r._1, r._2)).values.flatMap(_.sortBy(_._3).take(cap)).toSeq.sorted
      assert(got == want, s"cap $cap, rewrite $rewrite")
    }
  }

  test("minHashLshPairs and simHashPairs whale-bucket caps bound duplicate floods") {
    import graft.operators.Dedup
    // 200 verbatim copies (identical signatures → one bucket per
    // band/chunk) + one distinct doc; capped at 10 → at most
    // 10·9/2 = 45 pairs, lowest ids, instead of ~19,900
    val flood = ((0L until 200L).map(i => (i, "the quick brown fox jumps over the lazy dog")) :+
      (999L, "completely different content about databases and engines"))
      .toDF("doc_id", "text")
      .withColumn("norm", graft.operators.TextAnalysis.normalize(col("text")))
    val mh = Dedup.minHashLshPairs(flood, "doc_id", "norm",
      numHashes = 16, bands = 4, minEstJaccard = 0.5, maxBucket = 10).collect()
    assert(mh.length == 45, s"minhash pairs ${mh.length}")
    assert(mh.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10))
    val sh = Dedup.simHashPairs(flood, "doc_id", "norm",
      maxHamming = 3, maxBucket = 10).collect()
    assert(sh.length == 45, s"simhash pairs ${sh.length}")
    assert(sh.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10))
  }

  test("minhash and simhash run their kernel once per read of the corpus") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.plans.{MinHashSignature, SimHash64}
    object H extends AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_kernel_reads").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, null), (4L, "lorem ipsum dolor sit amet consectetur"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir).withColumn("norm", TextAnalysis.normalize(col("text")))
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Expression => Boolean)] = Seq(
      ("minhash", Dedup.minHashLshPairs(corpus, "doc_id", "norm", numHashes = 16, bands = 4,
        minEstJaccard = 0.5), _.isInstanceOf[MinHashSignature]),
      ("simhash", Dedup.simHashPairs(corpus, "doc_id", "norm", maxHamming = 3),
        _.isInstanceOf[SimHash64]))
    for ((name, df, isKernel) <- cases) {
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)), name)
      val plan = df.queryExecution.executedPlan
      // a filter on the kernel's output would be pushed below the
      // projection and run the kernel a second time per scan
      def count(f: Expression => Boolean): Int =
        H.collect(plan) { case p => p.expressions.map(_.collect { case e if f(e) => e }) }.flatten.flatten.size
      val calls = count(isKernel)
      val scans = H.collect(plan) { case s: FileSourceScanExec => s }.size
      assert(scans > 0 && calls == scans, s"$name: $calls kernel calls over $scans scans\n$plan")
      // the null filter on the normalized text tests the raw text, so
      // neither the filter nor the scan's data filters normalize again
      val regex = count(_.isInstanceOf[RegExpReplace])
      assert(regex == scans, s"$name: $regex regexp_replace calls over $scans scans\n$plan")
    }
  }

  test("isnotnull over lower/trim/regexp_replace tests the raw column when that is exact") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val df = spark.range(3).selectExpr("CASE id WHEN 0 THEN ' A  b ' WHEN 2 THEN '' END AS t")
    def regexIn(c: org.apache.spark.sql.Column): Int = {
      val q = df.where(c)
      assert(q.count() == 2)
      q.queryExecution.optimizedPlan.collect { case f: Filter =>
        f.condition.collect { case r: RegExpReplace => r }.size }.sum
    }
    assert(regexIn(TextAnalysis.normalize(col("t")).isNotNull) == 0)
    // a group reference in the replacement can fail at run time: kept
    assert(regexIn(regexp_replace(col("t"), "(b)", "$1$1").isNotNull) == 1)
  }

  test("Similarity IVF finds the planted near-duplicate with a partial scan") {
    val rnd = new scala.util.Random(99L)
    val base = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val probe = base(17)._2.clone()
    probe(0) += 0.01f // near-dup of vector 17
    val df = base.toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(df, "vec_id", "embedding", nlist = 8, seed = 1L)
    val top = Similarity.ivfTopK(idx, "vec_id", "embedding", probe, k = 3, nprobe = 3)
      .collect()
    assert(top.head.getLong(0) == 17L, "nearest cell scan must surface the planted near-dup")
    assert(top.head.getDouble(1) > 0.99)
  }

  test("Similarity IVF-PQ: code shortlist + exact re-rank recovers brute-force top-k") {
    val rnd = new scala.util.Random(5L)
    val base = Seq.tabulate(300) { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = base.toDF("vec_id", "embedding")
    val probe = base(23)._2.clone()
    probe(1) += 0.01f // near-dup of vector 23
    val idx = Similarity.ivfPqIndex(df, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 16, seed = 3L)
    // codes: every row carries m small ints in [0, ksub)
    val codes = idx._1.select("codes").head().getSeq[Int](0)
    assert(codes.length == 4 && codes.forall(c => c >= 0 && c < 16))
    val got = Similarity.ivfPqTopK(idx, "vec_id", "embedding", probe,
      k = 3, nprobe = 4, refine = 8).collect()
    assert(got.head.getLong(0) == 23L, "PQ shortlist + re-rank must surface the planted near-dup")
    assert(got.head.getDouble(1) > 0.99, "re-rank is exact cosine, so the near-dup scores ~1")
  }

  test("Similarity IVF stored layout prunes the scan to nprobe cell partitions") {
    val rnd = new scala.util.Random(7L)
    val base = Seq.tabulate(400) { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val probe = base(42)._2.clone()
    probe(3) += 0.01f // near-dup of vector 42
    val df = base.toDF("vec_id", "embedding")
    // fit on a 50% sample — centroid geometry doesn't need the corpus
    val centers = Similarity.ivfFit(df, "embedding", nlist = 8, sampleFraction = 0.5, seed = 1L)
    assert(centers.length == 8)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.ivfWrite(df, "embedding", centers, path)
    // every vector landed in exactly one cell, none lost
    assert(spark.read.parquet(path).count() == 400)
    val nprobe = 3
    val top = Similarity.ivfTopKStored(spark, path, centers, "vec_id", "embedding",
      probe, k = 3, nprobe = nprobe)
    val got = top.collect()
    assert(got.head.getLong(0) == 42L, "pruned scan must surface the planted near-dup")
    assert(got.head.getDouble(1) > 0.99)
    // pruning is physical: the executed scan read <= nprobe cell partitions
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPlan = top.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val scan = finalPlan.collect { case s: FileSourceScanExec => s }.head
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead > 0 && partsRead <= nprobe,
      s"expected <= $nprobe cell partitions read, got $partsRead")
  }

  test("Similarity.knnJoin returns k rows per probe, self first") {
    val knn = Similarity.knnJoin(vecs.where($"vec_id" === 1L), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rn").collect()
    assert(knn.length == 3)
    assert(knn.head.getAs[Long]("cand_id") == 1L)   // self, cos = 1
    assert(knn(1).getAs[Long]("cand_id") == 2L)
  }

  // ---------------------------------------------------------------- text

  test("TextAnalysis.langId picks marker language, und when none") {
    val r = Seq("the cat is on a mat of the king",
                "el rey de la casa que los ve",
                "zzz qqq xxx").toDF("t")
      .select(TextAnalysis.langId(TextAnalysis.normalize(col("t"))).as("l"))
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "es", "und"))
  }

  test("TextAnalysis.tokenSetFingerprint is order-insensitive") {
    val fps = Seq("alpha beta gamma", "gamma alpha beta", "alpha beta delta").toDF("t")
      .select(TextAnalysis.tokenSetFingerprint(col("t")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  // ------------------------------------------------------------- ch facade

  test("ch combinators: countIf/sumIf and quantile") {
    val df = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10).toDF("x")
    val r = df.agg(
      ch.countIf($"x" > 5).as("c"),
      ch.sumIf($"x".cast("double"), $"x" % 2 === 0).as("s"),
      ch.quantile($"x".cast("double"), 0.5).as("med")).head()
    assert(r.getLong(0) == 5L)
    assert(r.getDouble(1) === 30.0)
    assert(r.getDouble(2) === 5.5)
  }

  test("ch.uniq approximates uniqExact within rsd on realistic cardinality") {
    val df = spark.range(0, 10000).select(($"id" % 1000).as("k"))
    val r = df.agg(ch.uniq($"k").as("u"), ch.uniqExact($"k").as("e")).head()
    val (u, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(u - e) / e < 0.15)
  }

  // ------------------------------------------------------------ replicate

  private def cdc = Seq(
    // key, version, op, payload
    (1L, 1L, "u", "a"), (1L, 3L, "u", "c"), (1L, 2L, "u", "b"),
    (2L, 1L, "u", "x"), (2L, 2L, "d", "x"),
    (3L, 5L, "u", "z"),
  ).toDF("k", "v", "op", "payload")

  test("Replicate.latestByKey keeps max-version row per key") {
    val out = Replicate.latestByKey(cdc, Seq("k"), Seq(col("v")))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(out.toSeq == Seq((1L, "c"), (2L, "x"), (3L, "z")))
  }

  test("Replicate.incrementalPull reads only rows past the watermark") {
    val (firstPull, wmExpr) = Replicate.incrementalPull(cdc, "v", None)
    assert(firstPull.count() == 6)
    val wm = firstPull.agg(wmExpr).head().getLong(0)
    assert(wm == 5L)
    val more = cdc.union(Seq((4L, 7L, "u", "new")).toDF("k", "v", "op", "payload"))
    val (secondPull, _) = Replicate.incrementalPull(more, "v", Some(lit(wm)))
    assert(secondPull.collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("Replicate.applyCdc drops keys whose latest op is a delete") {
    val out = Replicate.applyCdc(cdc, Seq("k"), Seq(col("v")), isDelete = $"op" === "d")
      .orderBy("k").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("Replicate.collapse: net sign gates survival, latest +1 row carries") {
    val rows = Seq(
      // key 1: two states, one cancel → net 1, survivor = v2 row
      (1L, 1L, 1, "a"), (1L, 2L, 1, "b"), (1L, 1L, -1, "a"),
      // key 2: state fully cancelled → net 0 → dropped
      (2L, 1L, 1, "x"), (2L, 1L, -1, "x"),
      // key 3: stray cancel with no state → net -1 → dropped
      (3L, 9L, -1, "zz"),
    ).toDF("k", "v", "sgn", "payload")
    val out = Replicate.collapse(rows, Seq("k"), col("sgn"), Seq(col("v")))
      .select("k", "payload", "net").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "b", 1L)))
  }

  test("agg-state merge: hll sketch states union to within 5% of the exact set union") {
    // Same two-level shape as q35_agg_state_merge with the bounded
    // sketch state in place of the exact set: daily hll states union
    // into the monthly estimate.
    val df = spark.range(0, 20000).select(
      (($"id" % 60) + 1).cast("int").as("day"),
      ($"id" % 3017).as("user_id"))
    val states = df.groupBy($"day")
      .agg(hll_sketch_agg($"user_id").as("uniq_state"), count(lit(1)).as("cnt_state"))
    val merged = states.groupBy(($"day" % 12).as("month"))
      .agg(hll_sketch_estimate(hll_union_agg($"uniq_state")).as("uniq_est"),
           sum($"cnt_state").as("cnt"))
    val exact = df.groupBy(($"day" % 12).as("month"))
      .agg(countDistinct($"user_id").as("uniq"), count(lit(1)).as("cnt"))
    val j = merged.withColumnRenamed("cnt", "cnt_m").join(exact, "month").collect()
    assert(j.length == 12)
    j.foreach { r =>
      val (est, ex) = (r.getAs[Long]("uniq_est").toDouble, r.getAs[Long]("uniq").toDouble)
      assert(math.abs(est - ex) / ex < 0.05, s"month ${r.get(0)}: est $est vs exact $ex")
      // merged partial counts must agree exactly with the direct count
      assert(r.getAs[Long]("cnt_m") == r.getAs[Long]("cnt"))
    }
  }

  // --------------------------------------------------------------- events

  test("Events.sessionize splits on gaps > threshold") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(50), 3L),  // gap 40min → new session
      (2L, ts(0), 4L),
    ).toDF("user_id", "ts", "event_id")
    val sess = Events.sessionize(df, "user_id", "ts", "event_id", gapSeconds = 1800)
      .groupBy("user_id").agg(max("session_idx").as("n")).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sess.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("Events.funnelLevels: ordered steps within window only") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(h: Long) = new java.sql.Timestamp(base.getTime + h * 3600000)
    val df = Seq(
      (1L, ts(0), "signup"), (1L, ts(1), "click"), (1L, ts(2), "purchase"), // level 3
      (2L, ts(0), "signup"), (2L, ts(1), "click"),                          // level 2
      (3L, ts(0), "click"), (3L, ts(1), "signup"),                          // click BEFORE signup → level 1
      (4L, ts(0), "signup"), (4L, ts(24 * 8), "click"),                     // outside 7d window → level 1
    ).toDF("user_id", "ts", "event_type")
    val lv = Events.funnelLevels(df, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), windowDays = 7)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(lv.toSeq == Seq((1L, 3), (2L, 2), (3L, 1), (4L, 1)))
  }

  test("AsofJoin matches latest right row at or before left time, per key") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min.toLong * 60000)
    val quotes = Seq(
      (1L, ts(0), 100L, 10.0), (1L, ts(10), 101L, 11.0), (1L, ts(10), 102L, 12.0),
      (2L, ts(5), 200L, 20.0),
    ).toDF("k", "ts", "qid", "px")
    val trades = Seq(
      (1L, ts(10), 900L),  // equal-ts: inclusive, tiebreak max qid → 102
      (1L, ts(3), 901L),   // → qid 100
      (2L, ts(1), 902L),   // before any quote → null
    ).toDF("k", "ts", "tid")
    val out = graft.operators.AsofJoin.join(trades, quotes, Seq("k"),
        "ts", tiebreakCol = "qid", rightCols = Seq("qid", "px"))
      .orderBy("tid")
      .select("tid", "right_qid", "right_px").collect()
    assert(out(0).getLong(0) == 900L && out(0).getLong(1) == 102L && out(0).getDouble(2) == 12.0)
    assert(out(1).getLong(1) == 100L)
    assert(out(2).isNullAt(1))
  }

  test("Events.histogram clamps out-of-range values into edge buckets") {
    val df = Seq(-5.0, 0.0, 24.9, 25.0, 499.0, 750.0).toDF("value")
    val h = Events.histogram(df, "value", 0.0, 500.0, 20)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(h.toSeq == Seq((0L, 3L), (1L, 1L), (19L, 2L)))
  }

  test("AsofJoin carries null payload VALUES from the matched row (no stitching)") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min.toLong * 60000)
    val quotes = Seq(
      (1L, ts(0), 100L, Some(10.0)),
      (1L, ts(10), 101L, None),       // latest row has a NULL px
    ).toDF("k", "ts", "qid", "px")
    val trades = Seq((1L, ts(20), 900L)).toDF("k", "ts", "tid")
    val out = graft.operators.AsofJoin.join(trades, quotes, Seq("k"),
        "ts", tiebreakCol = "qid", rightCols = Seq("qid", "px")).head()
    assert(out.getAs[Long]("right_qid") == 101L)
    assert(out.isNullAt(out.fieldIndex("right_px")), "stale px must not resurrect")
  }

  test("graft_pack_ids matches the greedy packing recurrence") {
    val r = spark.sql(
      """SELECT graft_pack_ids(array(100L, 200L, 300L, 500L, 10L, 600L, 5L), 512) AS p,
        |       graft_pack_ids(CAST(array() AS ARRAY<BIGINT>), 512) AS empty""".stripMargin).head()
    // 100+200 fits; +300 overflows -> pack 1; +500 overflows -> pack 2;
    // +10 fits pack 2; 600 > budget gets its own pack; 5 joins nothing after (600+5>512)
    assert(r.getSeq[Int](0) == Seq(0, 0, 1, 2, 2, 3, 4))
    assert(r.getSeq[Int](1).isEmpty)
  }

  test("Dedup.substringDedupStats: canonical copy survives, span union merges overlaps") {
    import spark.implicits._
    // doc 1 is canonical for the shared run; doc 2 repeats it verbatim inside
    // other text; doc 3 is unrelated; doc 4 repeats it twice (overlapping
    // removable windows must union, not double-count).
    val shared = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens, w=4 -> 7 windows
    val docs = Seq(
      (1L, shared),
      (2L, s"alpha beta $shared gamma delta"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8"),
      (4L, s"$shared pad1 pad2 $shared"),
    ).toDF("doc_id", "norm")
    val out = graft.operators.Dedup.substringDedupStats(docs, "doc_id", "norm", w = 4)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // doc 1 canonical -> absent; doc 3 unrelated -> absent
    assert(out.map(_._1).toSeq == Seq(2L, 4L))
    val d2 = out(0)
    // doc 2: the 7 shared windows are removable; they tile one 10-token span
    assert(d2._2 == 7L && d2._3 == 10L && d2._4 == 14)
    val d4 = out(1)
    // doc 4: both copies removable (14 windows), two disjoint 10-token spans
    assert(d4._2 == 14L && d4._3 == 20L && d4._4 == 22)
  }
}
