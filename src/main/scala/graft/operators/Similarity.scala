package graft.operators

import graft.functions.vec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - bruteForceTopK: the exact baseline — one scan, norms precomputed,
  *    TakeOrderedAndProject (no shuffle of the scored rows).
  *  - embeddingDupPairs: all-pairs near-dup above a cosine threshold.
  *    Exact; the LSH variant is the 100 TB path.
  *  - lshAnnPairs: multi-table random-hyperplane LSH
  *    (`graft_lsh_buckets`). Hyperplane components come from a seeded
  *    generator per plane — fully deterministic, no RNG state to ship
  *    to executors.
  *  - knnJoin: k nearest neighbors for each probe row against a
  *    candidate set, bounded by broadcasting the (small) probe side.
  */
object Similarity {

  /** Normalize: add a precomputed L2 norm column. */
  def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__norm", vec.norm(col(vecCol)))

  /** Exact top-k cosine neighbors of one probe vector (given as the
    * row of `df` with id == probeId). Returns (id, cos) rounded. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     probeId: Long, k: Int): DataFrame = {
    val base = withNorm(df, vecCol)
    val probe = base.where(col(idCol) === probeId)
      .select(col(vecCol).as("__pv"), col("__norm").as("__pn"))
    base.where(col(idCol) =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col(idCol),
        round(vec.cosineWithNorms(vec.dot(col(vecCol), col("__pv")), col("__norm"), col("__pn")), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs cosine near-duplicates above `minCos` (exact). The
    * operator's contract is a BOUNDED input (at corpus scale use
    * lshAnnPairs instead), so the build side carries an explicit
    * broadcast hint: without it, a bounded slice OF a large table
    * loses its small size estimate to the base table's stats and
    * Catalyst degrades the inequality join from a broadcast
    * nested-loop to a shuffled CartesianProduct (observed at the
    * sf10 rehearsal). */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val base = withNorm(df, vecCol)
    val a = base.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("__norm").as("na"))
    val b = base.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("__norm").as("nb"))
    val cos = vec.cosineWithNorms(vec.dot(col("va"), col("vb")), col("na"), col("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .where(roundedCosAtLeast(cos, minCos))
      .select(col("id_a"), col("id_b"), round(cos, 4).as("cos"))
  }

  /** `round(cos, 4) >= minCos`, rounding only the pairs near the bound.
    * `round` on a double goes through `BigDecimal.valueOf` (a
    * `Double.toString`) per row, and it moves a value by at most 5e-5,
    * so a raw cosine below `minCos - 1e-4` cannot round up to the bound
    * and is dropped before it. */
  private def roundedCosAtLeast(cos: Column, minCos: Double): Column =
    cos >= minCos - 1e-4 && round(cos, 4) >= minCos

  /** Max embedding dimensionality the pre-generated hyperplanes cover.
    * [[graft.plans.DotProduct]] scores the common prefix, so planes are
    * generated once at this width and work for any dim ≤ MaxDim. */
  val MaxDim: Int = graft.plans.Hyperplanes.MaxDim

  /** Formula hyperplane `j` over `dim` components:
    * w(j,i) = ((i² + i·(7j+3) + 5j) mod 23) − 11 — small integers a
    * SQL engine regenerates exactly from the same closed form, which
    * makes the bucketed-dedup path below fully ORACLE-ABLE (the
    * seeded-hash planes of [[lshAnnPairs]] are deterministic too, but
    * replaying a hash chain in SQL is impractical — that family is
    * rows-only). The quadratic i² term decorrelates the planes; the
    * round-10 linear form ((i·(2j+3)) mod 11 − 5) bucketed the sf10
    * rehearsal corpus into 908 of 2^14 buckets (68.7M candidate
    * pairs) where this form fills 14,089 (4.3M pairs) — a 16×
    * candidate cut at the same plane count, measured, not assumed. */
  def formulaPlane(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(i => (((i * i + i * (7 * j + 3) + 5 * j) % 23) - 11).toDouble)

  /** Corpus row count for dial computation ([[autoPlanes]] /
    * [[autoNlist]]): prefers a METADATA-ONLY read when the input is a
    * bare (projected/aliased, unfiltered) scan of a parquet relation
    * — row counts come from the file footers, no Spark job, no data
    * bytes — and falls back to a full `count()` otherwise. At 100 TB
    * the fallback is an extra full pass before every auto-dialed
    * dedup; the footer path is a driver-side metadata sweep of the
    * file index the scan already holds. */
  def corpusCount(df: DataFrame): Long =
    statsRowCount(df).getOrElse(df.count())

  /** The metadata fast path of [[corpusCount]]: Some(rowCount) when
    * `df` is row-count-equivalent to a raw parquet scan (only
    * row-preserving Project/SubqueryAlias/View nodes above the relation —
    * a Filter/Join/Generate/Limit anywhere disqualifies), computed by
    * summing row-group counts from the parquet footers (a bounded
    * driver-side thread pool; tables past 4096 files fall through to
    * the distributed count() instead — serial-ish driver footer reads
    * at lake scale would be slower than the job they avoid). Runs no
    * Spark job — the spec asserts it with a job listener. */
  private[graft] def statsRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, View}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    @scala.annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child)       => strip(child) // per-row map: row-count-preserving
      case SubqueryAlias(_, child) => strip(child)
      case v: View                 => strip(v.child) // spark.table(tempView)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            val conf = df.sparkSession.sessionState.newHadoopConf()
            val files = fs.location.inputFiles.filterNot { p =>
              val name = p.substring(p.lastIndexOf('/') + 1)
              name.startsWith("_") || name.startsWith(".")
            }
            // A lake-scale table is 10^5–10^6 files; one serial footer
            // open per file on the driver (~10-50 ms each on remote
            // storage) would be slower than the distributed count()
            // this path exists to avoid. Past a small-file bound, let
            // the caller fall through to count() — Spark answers a
            // parquet count(*) from the same footer metadata, but
            // fanned across every executor.
            if (files.length > 4096) None
            else scala.util.Try {
              def footerRows(p: String): Long = {
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(p), conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try {
                  var s = 0L
                  val it = r.getFooter.getBlocks.iterator()
                  while (it.hasNext) s += it.next().getRowCount
                  s
                } finally r.close()
              }
              if (files.length <= 4) files.map(footerRows).sum
              else {
                // bounded driver-side pool: footer reads are I/O-bound
                val pool = java.util.concurrent.Executors.newFixedThreadPool(
                  math.min(32, files.length))
                try {
                  val futs = files.map { p =>
                    pool.submit(new java.util.concurrent.Callable[Long] {
                      override def call(): Long = footerRows(p)
                    })
                  }
                  futs.map(_.get()).sum
                } finally pool.shutdown()
              }
            }.toOption
          case _ => None
        }
      case _ => None
    }
  }

  /** Scale-aware default for the hyperplane-count dial: the smallest
    * plane count whose EXPECTED bucket occupancy N / 2^planes lands
    * at or under `targetOccupancy` — planes = ceil(log₂(N / target)).
    * This is the knob the sf0.1/sf1/sf10 candidate audit proved
    * matters: at FIXED planes, within-bucket candidate pairs grow
    * quadratically in the scale factor (measured 97.7×/100.3× pairs
    * for 10× data), while growing planes with log₂(N) restores
    * ~linear total work (docs/AUDIT_lsh_r11.md). Clamped to [4, 30]:
    * ≥4 keeps toy corpora from collapsing into a handful of buckets,
    * ≤30 (a billion buckets) is past any realistic occupancy need
    * and keeps multi-table ids comfortably inside the packed Long. */
  def autoPlanes(n: Long, targetOccupancy: Int = 64): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val ratio = math.max(n, 1L).toDouble / targetOccupancy
    val raw = math.ceil(math.log(math.max(ratio, 1.0)) / math.log(2.0)).toInt
    math.min(30, math.max(4, raw))
  }

  /** [[semanticDedup]] with the plane dial computed from the corpus
    * count — the safe-by-default entry point for corpora of unknown
    * size. One extra count job (metadata-cheap on parquet sources)
    * buys immunity from the measured quadratic-at-fixed-planes
    * failure mode. The chosen dial and achieved occupancy are
    * observable on the result via the `graft_lsh_dial` metric
    * (rows / buckets ≫ targetOccupancy ⇒ the corpus is
    * mass-duplicated or lives in a low-dim subspace — grow
    * `targetOccupancy` pressure by raising planes manually or accept
    * the maxBucket cap doing its job). The explicit-planes overload
    * stays for pinned/oracled formulations (q47's formula planes). */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, minCos: Double,
                        targetOccupancy: Int = 64,
                        maxBucket: Int = 4096): DataFrame = {
    val planes = autoPlanes(corpusCount(df), targetOccupancy)
    semanticDedup(df, idCol, vecCol, planes, dim, minCos, maxBucket)
      .observe("graft_lsh_dial",
        max(lit(planes)).as("planes"),
        count(lit(1)).as("rows"),
        approx_count_distinct(col("bucket")).as("buckets"))
  }

  /** SemDeDup-style bucketed semantic dedup — the 100 TB
    * embedding-dedup path. One map-side pass assigns each vector a
    * `numPlanes`-bit hyperplane-sign bucket; candidate pairs form
    * only WITHIN a bucket (the one shuffle); a vector is dropped when
    * a lower-id bucket-mate sits at cosine ≥ `minCos`. Returns every
    * vector annotated (bucket, id, survived) so callers can both
    * filter the corpus and report per-bucket stats.
    *
    * Scale dial: bucket occupancy ∝ N / 2^numPlanes — grow
    * `numPlanes` with the corpus so within-bucket pair work stays
    * bounded (the standard single-table LSH recall/cost trade;
    * [[embeddingDupPairs]] is the exact bounded-anchor counterpart,
    * [[lshAnnPairs]] the multi-table recall path).
    *
    * Whale-bucket guard: only the `maxBucket` LOWEST-id rows of a
    * bucket act as dedup REPRESENTATIVES (the lower-id comparison
    * side); every row is still checked against them. This caps the
    * within-bucket join at maxBucket × occupancy — linear in bucket
    * size, ≤ maxBucket cosine checks per row — where the uncapped
    * self-join goes quadratic on exactly the input this operator
    * exists for (mass-duplicated embeddings all landing in one
    * bucket). Deliberately ASYMMETRIC, unlike [[lshAnnPairs]]'
    * symmetric truncation: there a truncated row merely costs
    * recall; here a row past a symmetric cap would survive
    * UNCHECKED, letting a duplicate flood through untouched. With
    * the asymmetric cap a flood of copies still dedups — the
    * lowest-id representative drops them all. Semantics are exact
    * while occupancy ≤ maxBucket (so the DuckDB oracle stays
    * hash-green); past it, the only divergence is a row whose every
    * ≥ minCos lower-id mate is itself past the cap — it survives
    * where the uncapped rule would drop it. Truncation is
    * observable via the `graft_semdedup_cap` [[DataFrame.observe]]
    * metric (`truncated_reps` > 0 ⇒ the cap engaged). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, dim: Int, minCos: Double,
                    maxBucket: Int = 4096): DataFrame = {
    val (coded, st) = semanticDedupInternals(df, idCol, vecCol, numPlanes, dim, minCos, maxBucket)
    val dropped = st.verified.select(col("id_b").as("__dropped_id")).distinct()
    coded.select(col("__bucket").as("bucket"), col(idCol))
      .join(dropped, col(idCol) === col("__dropped_id"), "left")
      .select(col("bucket"), col(idCol), col("__dropped_id").isNull.as("survived"))
  }

  /** The operator's actual stage frames (coded corpus + capped reps /
    * pre-threshold candidates / verified pairs) for `graft.LshAudit`. */
  private[graft] def semanticDedupInternals(
      df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int, minCos: Double,
      maxBucket: Int = 4096): (DataFrame, graft.operators.LshStages) = {
    val base = withNorm(df, vecCol)
    val bucket = (0 until numPlanes).map { j =>
      when(vec.dot(col(vecCol), lit(formulaPlane(j, dim))) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val coded = base.withColumn("__bucket", bucket)
    // representative cap: one row_number window on the same __bucket
    // key the candidate join shuffles on anyway (exchange reuse — no
    // extra shuffle, one sort)
    val reps = coded
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__bucket")).orderBy(col(idCol))))
      .observe("graft_semdedup_cap",
        sum(when(col("__rn") > maxBucket, 1L).otherwise(0L)).as("truncated_reps"))
      .where(col("__rn") <= maxBucket).drop("__rn")
    val a = reps.select(col("__bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("__norm").as("na"))
    val b = coded.select(col("__bucket").as("__bb"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("__norm").as("nb"))
    val cand = a.join(b, col("__bucket") === col("__bb") && col("id_a") < col("id_b"))
    val verified = cand
      .where(roundedCosAtLeast(vec.cosineWithNorms(vec.dot(col("va"), col("vb")), col("na"), col("nb")),
        minCos))
    (coded, graft.operators.LshStages(reps, cand, verified))
  }

  /** ANN candidate pairs via multi-table LSH (OR-amplification):
    * `numTables` independent `numPlanes`-bit hyperplane hashes; a pair
    * is a candidate when it collides in ANY table, and each candidate
    * gets the exact cosine exactly once. Recall/cost dial: more
    * tables → higher recall, more candidates; more planes → fewer,
    * more-similar candidates per bucket. The (table, bucket) join is
    * bounded by bucket occupancy — which `maxBucket` CAPS with
    * [[Dedup.capBuckets]] (lowest ids win, deterministically, as in
    * MinHash and SimHash): without it one degenerate hot bucket
    * (mass-duplicated rows, all-zero embeddings) turns the self-join
    * quadratic at 100 TB, the same whale-bucket failure q41's
    * posting-list cap guards against. Normal buckets sit far below
    * the cap (sf1 rehearsal: ~80 rows vs 4096), so recall is
    * untouched except inside a degenerate bucket, where truncating is
    * the point. */
  def lshAnnPairs(df: DataFrame, idCol: String, vecCol: String,
                  numPlanes: Int = 8, numTables: Int = 4,
                  minCos: Double = 0.3, dim: Int = MaxDim,
                  maxBucket: Int = 4096): DataFrame =
    lshAnnStages(df, idCol, vecCol, numPlanes, numTables, minCos, dim, maxBucket).verified

  /** [[lshAnnPairs]] with the per-table plane dial computed from the
    * corpus count ([[autoPlanes]]) — same rationale as
    * [[semanticDedupAuto]]: at fixed planes the per-table bucket
    * join's candidate count grows quadratically in corpus size
    * (measured; docs/AUDIT_lsh_r11.md), and OR-amplification across
    * `numTables` multiplies that. planes = ceil(log₂(N/target))
    * keeps expected occupancy — and so candidates per table —
    * ~linear in N at a recall cost the table count buys back. */
  def lshAnnPairsAuto(df: DataFrame, idCol: String, vecCol: String,
                      numTables: Int = 4, minCos: Double = 0.3,
                      dim: Int = MaxDim, maxBucket: Int = 4096,
                      targetOccupancy: Int = 64): DataFrame = {
    val planes = autoPlanes(corpusCount(df), targetOccupancy)
    lshAnnStages(df, idCol, vecCol, planes, numTables, minCos, dim, maxBucket).verified
  }

  /** Stage frames for `graft.LshAudit` (capped bucket rows, candidate
    * pairs, cosine-verified pairs) — the actual plan stages, so
    * rehearsal scaling attributes to the stage that grew. Building
    * them runs no Spark job. */
  private[graft] def lshAnnStages(df: DataFrame, idCol: String, vecCol: String,
                  numPlanes: Int = 8, numTables: Int = 4,
                  minCos: Double = 0.3, dim: Int = MaxDim,
                  maxBucket: Int = 4096): graft.operators.LshStages = {
    // All table bucket ids in ONE batched expression
    // ([[graft.plans.LshBucketIds]]): the candidate-join stage sees a
    // single cheap expression per side instead of numTables×numPlanes
    // inlined dot loops (which blew past codegen size limits and fell
    // back to per-element interpreted eval).
    val bucketIds = call_function("graft_lsh_buckets", col(vecCol), lit(numPlanes), lit(numTables))
    // Vectors and norms ride the posexplode from the scan. The cap
    // windows these rows on (tbl, bk), the key the self-join below
    // partitions on, so both share one exchange; the window's sort is
    // what the cap costs.
    val keyed = Dedup.capBuckets(
      withNorm(df, vecCol).select(col(idCol), posexplode(bucketIds).as(Seq("tbl", "bk")),
        col(vecCol).as("__v"), col("__norm")),
      Seq("tbl", "bk"), idCol, maxBucket)
    val keyedSlim = keyed.select(col(idCol), col("tbl"), col("bk"))
    // audit-only frame: distinct candidate pairs (not on the
    // verified path — materializing all-table pair occurrences just
    // to dedup them before verification was the sf100 disk killer)
    val cand = keyedSlim.toDF("id_a", "tbl", "bk")
      .join(keyedSlim.toDF("id_b", "tbl", "bk"), Seq("tbl", "bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // Verification happens INSIDE the bucket self-join: the self-join
    // streams each bucket's pairs through the cosine filter in the
    // same stage, and only SURVIVORS are materialized and deduped.
    // The former shape deduped all candidate pairs first and then
    // ran two id-joins to fetch vectors — at sf100 that second join
    // sort-merge-sorted ~10^8 pairs × 0.5 KB of attached vector
    // payload (~100+ GB of spill, measured disk-full). Cross-table
    // duplicate pairs now pay a redundant dot product instead (pure
    // CPU, bounded by numTables×N×occupancy), which scales; the
    // shuffle volume stays at the bucket rows themselves.
    val a = keyed.select(col(idCol).as("id_a"), col("tbl"), col("bk"),
      col("__v").as("va"), col("__norm").as("na"))
    val b = keyed.select(col(idCol).as("id_b"), col("tbl"), col("bk"),
      col("__v").as("vb"), col("__norm").as("nb"))
    val cos = vec.cosineWithNorms(vec.dot(col("va"), col("vb")), col("na"), col("nb"))
    val verified = a.join(b.hint("shuffle_hash"), Seq("tbl", "bk"))
      .where(col("id_a") < col("id_b") && roundedCosAtLeast(cos, minCos))
      .select(col("id_a"), col("id_b"), round(cos, 4).as("cos"))
      .dropDuplicates("id_a", "id_b")
    graft.operators.LshStages(keyedSlim, cand, verified)
  }

  /** Scale-aware default for the IVF cell count: nlist ≈ √N — the
    * classic probe-cost balance (a probe scores nlist centroids plus
    * ~nprobe·N/nlist candidates; the sum minimizes near √N for small
    * nprobe). Clamped to [16, maxSample/8] so the driver-side Lloyd
    * fit keeps ≥8 sample rows per centroid; past the cap (N ≳ 39M at
    * the default sample) raise `maxSample` with nlist — centroid
    * geometry still converges from a sample, the cap only guards the
    * fit's row-per-cell budget. The probe trade stays the caller's:
    * recall is bought with `nprobe`, and the partition-pruned scan
    * reads ~nprobe/nlist of the corpus regardless of how nlist was
    * chosen. */
  def autoNlist(n: Long, maxSample: Int = 50000): Int = {
    val raw = math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt
    math.min(math.max(16, maxSample / 8), math.max(16, raw))
  }

  /** [[ivfIndex]] with nlist from [[autoNlist]] — the safe default
    * for corpora of unknown size (count via [[corpusCount]]:
    * metadata-only on bare parquet scans). */
  def ivfIndexAuto(df: DataFrame, idCol: String, vecCol: String,
                   seed: Long = 42L): (DataFrame, Array[Array[Double]]) =
    ivfIndex(df, idCol, vecCol, autoNlist(corpusCount(df)), seed)

  /** IVF (inverted-file) ANN: coarse k-means quantization assigns
    * every vector to one of `nlist` cells; a probe scores only the
    * vectors in its `nprobe` nearest cells. The classic trade: scan
    * cost drops to ~nprobe/nlist of brute force, recall controlled by
    * nprobe.
    *
    * The 100 TB shape of each stage:
    *  - [[ivfFit]] trains the coarse quantizer driver-side on ONE
    *    collected sample capped at `maxSample` rows — centroid
    *    geometry converges at a tiny fraction of the corpus, and an
    *    in-process Lloyd fit on a bounded sample beats a distributed
    *    trainer's job round-trips by orders of magnitude (swap in a
    *    distributed fit only for huge nlist × dim codebooks);
    *  - [[nearestCell]] assigns in ONE map-side pass of `nlist`
    *    codegen'd dot products (no MLlib transform, no shuffle, no
    *    vector-type conversion of the stored rows);
    *  - [[ivfWrite]] lands the table partitioned by `cell`, so a
    *    probe's scan prunes to `nprobe` directories at the file index
    *    — the inverted file IS the storage layout.
    */
  def ivfFit(df: DataFrame, vecCol: String, nlist: Int,
             sampleFraction: Double = 1.0, seed: Long = 42L,
             maxSample: Int = 50000): Array[Array[Double]] = {
    val rows = (if (sampleFraction >= 1.0) df else df.sample(sampleFraction, seed))
      .select(vec.toDoubleArr(col(vecCol)).as("v")).limit(maxSample)
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "ivfFit: empty sample")
    lloyd(rows, nlist, iters = 15, seed = seed)
  }

  /** Nearest-centroid cell id as a pure column expression: argmin over
    * `nlist` cells of d²(v,c) = |v|² − 2·v·c + |c|². The |v|² term is
    * constant across cells, so only (|c|² − 2·v·c) is scored — one
    * batched [[graft.plans.NearestCentroid]] sweep per row (the
    * unrolled per-cell form blows past codegen limits at the
    * [[autoNlist]] dial; see that expression's scaladoc), ties to the
    * lowest cell id. Numerically identical to the compositional
    * per-cell argmin — Round13DialSpec asserts it at three codebook
    * sizes. */
  def nearestCell(vecCol: Column, centers: Array[Array[Double]]): Column =
    call_function("graft_nearest_cell", vecCol,
      typedLit[Seq[Seq[Double]]](centers.map(_.toSeq).toSeq))

  /** Land `df` with its cell assignment, partitioned by `cell` on
    * disk. The repartition-by-cell before the write keeps it to one
    * writer wave per cell directory (no small-file spray). */
  def ivfWrite(df: DataFrame, vecCol: String, centers: Array[Array[Double]], path: String): Unit =
    df.withColumn("cell", nearestCell(col(vecCol), centers))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)

  /** Driver-side: indexes of the `nprobe` cells whose centroids are
    * nearest to the probe (euclidean). O(nlist·dim) — trivial. */
  def nearestCells(probe: Array[Double], centers: Array[Array[Double]], nprobe: Int): Seq[Int] =
    centers.zipWithIndex.map { case (c, i) =>
      (i, c.zip(probe).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq

  /** Exact top-k cosine over a stored IVF table, scanning ONLY the
    * `nprobe` nearest cell partitions — the `cell IN (…)` predicate is
    * a partition filter, so pruning happens at the file index before a
    * byte is read (the spec asserts `inputFiles` covers ≤ nprobe
    * directories). */
  def ivfTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                    centers: Array[Array[Double]], idCol: String, vecCol: String,
                    probe: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val pd = probe.map(_.toDouble)
    val cells = nearestCells(pd, centers, nprobe)
    val cand = spark.read.parquet(path).where(col("cell").isin(cells: _*))
    scoreAgainstProbe(cand, idCol, vecCol, pd, k)
  }

  /** In-memory IVF pair (assigned table, centroids) — the small-data
    * convenience path; same fit/assign machinery as the stored form. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, seed: Long = 42L,
               sampleFraction: Double = 1.0): (DataFrame, Array[Array[Double]]) = {
    val centers = ivfFit(df, vecCol, nlist, sampleFraction, seed)
    (df.withColumn("cell", nearestCell(col(vecCol), centers)), centers)
  }

  /** Exact top-k cosine within the `nprobe` cells nearest (by
    * euclidean distance of centroids) to the probe vector. `indexed`
    * is the (assigned, centers) pair from [[ivfIndex]]. */
  def ivfTopK(indexed: (DataFrame, Array[Array[Double]]), idCol: String, vecCol: String,
              probe: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val (assigned, centers) = indexed
    val pd = probe.map(_.toDouble)
    val cand = assigned.where(col("cell").isin(nearestCells(pd, centers, nprobe): _*))
    scoreAgainstProbe(cand, idCol, vecCol, pd, k)
  }

  // ------------------------------------------------- product quantization

  /** PQ codebooks: the vector is split into `m` equal subspaces and
    * each dim/m-length slice gets its own `ksub`-centroid k-means
    * codebook. A stored code is `m` small ints — for dim-64 float
    * vectors with m=8 that is a 32× reduction in bytes scanned per
    * candidate, which is the whole point at 100 TB: the in-cell scan
    * reads codes, not vectors.
    *
    * Training runs DRIVER-SIDE on one collected sample, capped at
    * `maxSample` rows: codebook geometry needs a few thousand points
    * (m × ksub centroids of dim/m dims), and m in-process Lloyd fits
    * on a bounded sample cost microseconds where m MLlib fits cost a
    * job storm of cluster round-trips. The one collect here is the
    * justified kind: explicitly bounded, build-time only — encoding
    * the full table ([[pqEncode]]) stays a distributed map-side pass. */
  def pqFit(df: DataFrame, vecCol: String, m: Int, ksub: Int,
            sampleFraction: Double = 1.0, seed: Long = 42L,
            maxSample: Int = 20000): Array[Array[Array[Double]]] = {
    val rows = (if (sampleFraction >= 1.0) df else df.sample(sampleFraction, seed))
      .select(vec.toDoubleArr(col(vecCol)).as("v")).limit(maxSample)
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pqFit: empty sample")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    (0 until m).map { s =>
      lloyd(rows.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
            ksub, iters = 12, seed = seed + s)
    }.toArray
  }

  /** Plain seeded Lloyd's k-means for the bounded driver-side codebook
    * fits. Deterministic; an emptied cluster keeps its old centroid.
    *
    * The assignment sweep is O(|pts|·k·d) per iteration — trivial at
    * ksub=16 codebooks but real money at the [[autoNlist]] dial
    * (50k sample × √N cells × 64 dims × 15 iters ≈ 20 G multiplies at
    * the sf10 rehearsal), so sweeps above a fixed work threshold fan
    * out across driver cores in a FIXED 32-chunk split (chunk count
    * is a constant, not the core count, and per-chunk accumulators
    * merge in chunk order — deterministic on any machine). Small fits
    * stay on the sequential fold, bit-identical to the historical
    * behavior every toy gate pinned; the parallel split's last-ulp
    * summation-order shift only touches the big-dial fits, whose
    * families are rows-only/recall-asserted by design. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val d = pts.head.length
    var centers = rnd.shuffle(pts.indices.toVector).take(math.min(k, pts.length))
      .map(i => pts(i).clone).toArray
    // pad (degenerate tiny inputs) so callers always get k centroids
    while (centers.length < k) centers = centers :+ centers(rnd.nextInt(centers.length)).clone
    val bigFit = pts.length.toLong * k * d >= 200_000_000L
    val nThreads = if (bigFit) 32 else 1
    val chunk = (pts.length + nThreads - 1) / nThreads
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    for (_ <- 0 until iters) {
      val cs = centers // stable reference for the closure
      def sweep(from: Int, until: Int): (Array[Array[Double]], Array[Int]) = {
        val sums   = Array.fill(k)(new Array[Double](d))
        val counts = new Array[Int](k)
        var pi = from
        while (pi < until) {
          val p = pts(pi)
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < k) {
            var dist = 0.0; var i = 0
            while (i < d) { val t = p(i) - cs(c)(i); dist += t * t; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < d) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
          pi += 1
        }
        (sums, counts)
      }
      val (sums, counts) =
        if (nThreads <= 1) sweep(0, pts.length)
        else {
          val parts = Await.result(
            Future.sequence((0 until nThreads).map { t =>
              val from = t * chunk
              val until = math.min(pts.length, from + chunk)
              Future(sweep(from, until))
            }), Duration.Inf)
          val sums   = Array.fill(k)(new Array[Double](d))
          val counts = new Array[Int](k)
          parts.foreach { case (s, n) =>  // fixed chunk order: deterministic
            for (c <- 0 until k) {
              counts(c) += n(c)
              var i = 0
              while (i < d) { sums(c)(i) += s(c)(i); i += 1 }
            }
          }
          (sums, counts)
        }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until d)
        centers(c)(i) = sums(c)(i) / counts(c)
    }
    centers
  }

  /** Encode a vector to its `m` PQ codes — one map-side pass of
    * m × ksub codegen'd sub-dot-products, reusing [[nearestCell]] per
    * subspace. Run once at index-build time and stored. */
  def pqEncode(vecCol: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, s) =>
      nearestCell(slice(vecCol, s * dsub + 1, dsub), cb)
    }.toIndexedSeq: _*)
  }

  /** Asymmetric-distance score: the probe's per-subspace dot products
    * with every centroid are precomputed driver-side (m × ksub
    * doubles), and a row's approximate inner product is m lookups +
    * adds over its codes — `element_at` on literal arrays, fully
    * codegen'd, no vector column in sight. */
  def pqScoreIp(codesCol: Column, probe: Array[Double],
                codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, s) =>
      val lut = cb.map(_.zip(probe.slice(s * dsub, (s + 1) * dsub)).map { case (a, b) => a * b }.sum)
      element_at(lit(lut), codesCol.getItem(s) + 1)
    }.reduce(_ + _)
  }

  /** IVF-PQ index: cell assignment for pruning + stored codes for
    * cheap in-cell scoring. */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String, nlist: Int, m: Int,
                 ksub: Int, seed: Long = 42L, sampleFraction: Double = 1.0)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val centers = ivfFit(df, vecCol, nlist, sampleFraction, seed)
    val codebooks = pqFit(df, vecCol, m, ksub, sampleFraction, seed)
    (df.withColumn("cell", nearestCell(col(vecCol), centers))
       .withColumn("codes", pqEncode(col(vecCol), codebooks)),
     centers, codebooks)
  }

  /** [[ivfPqIndex]] with nlist from [[autoNlist]] — same rationale as
    * [[ivfIndexAuto]]: nlist ≈ √N keeps the probe's scanned fraction
    * (~nprobe/nlist) SHRINKING as the corpus grows, where any pinned
    * nlist makes it a constant fraction — the measured q53 sf10
    * pattern (nlist=16, nprobe=6 ⇒ 37% of 200k vectors PQ-scored per
    * probe). The PQ codebook dials (m, ksub) deliberately do NOT
    * scale with N: they set bytes-per-code, a storage-precision
    * trade, not a partition-occupancy one. Count via [[corpusCount]]
    * (metadata-only on bare parquet scans); Lloyd fit stays
    * sample-bounded and parallel past the work threshold. */
  def ivfPqIndexAuto(df: DataFrame, idCol: String, vecCol: String, m: Int,
                     ksub: Int, seed: Long = 42L)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) =
    ivfPqIndex(df, idCol, vecCol, autoNlist(corpusCount(df)), m, ksub, seed)

  /** IVF-PQ top-k: prune to `nprobe` cells, shortlist `k × refine`
    * candidates by PQ score over (id, codes) ONLY, then re-rank just
    * the shortlist with exact cosine on the re-fetched vectors. The
    * expensive full-width read touches k × refine rows, not the cell.
    */
  def ivfPqTopK(indexed: (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]),
                idCol: String, vecCol: String, probe: Array[Float], k: Int,
                nprobe: Int, refine: Int = 4): DataFrame = {
    val (assigned, centers, codebooks) = indexed
    val pd = probe.map(_.toDouble)
    val shortlist = assigned
      .where(col("cell").isin(nearestCells(pd, centers, nprobe): _*))
      .select(col(idCol), col("codes"))
      .withColumn("__approx", pqScoreIp(col("codes"), pd, codebooks))
      .orderBy(col("__approx").desc, col(idCol))
      .limit(k * refine)
      .select(col(idCol))
    scoreAgainstProbe(assigned.join(shortlist, idCol), idCol, vecCol, pd, k)
  }

  /** Exact cosine of every candidate against one probe vector, top-k
    * by TakeOrderedAndProject (scored rows never shuffle). */
  private[graft] def scoreAgainstProbe(cand: DataFrame, idCol: String, vecCol: String,
                                pd: Array[Double], k: Int): DataFrame = {
    val pn = math.sqrt(pd.map(x => x * x).sum)
    withNorm(cand, vecCol)
      .select(col(idCol),
        round(vec.cosineWithNorms(vec.dot(col(vecCol), lit(pd)), col("__norm"), lit(pn)), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** k-NN join: for every probe row, the k nearest candidates by
    * cosine. Probe side must be small enough to broadcast.
    *
    * Two-stage top-k: a first window partitioned by (input partition,
    * probe) prunes each scan partition to k rows per probe WITHOUT
    * moving the scored rows anywhere near a per-probe reducer; only
    * numPartitions × k survivors shuffle into the final per-probe
    * ranking. A single per-probe window would funnel every scored
    * candidate row into numProbes reducers — the straggler that kills
    * a billion-candidate scan. */
  def knnJoin(probes: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val p = withNorm(probes, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"), col("__norm").as("pn"))
    val c = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__norm").as("cn"))
    val scored = c.crossJoin(broadcast(p))
      .select(col("probe_id"), col("cand_id"),
        round(vec.cosineWithNorms(vec.dot(col("pv"), col("cv")), col("pn"), col("cn")), 4).as("cos"))
    val partialW = Window.partitionBy(spark_partition_id(), col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val partial = scored
      .withColumn("__prn", row_number().over(partialW))
      .where(col("__prn") <= k).drop("__prn")
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    partial.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }
}
