package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact hash, n-gram Jaccard, MinHash+LSH, SimHash.
  * (Embedding-cosine near-dup lives in [[Similarity]].)
  *
  * Scale design:
  *  - exact: one hash-shuffle on the fingerprint; min-id winner via
  *    single aggregation (no window needed).
  *  - ngramJaccardPairs: exact pairwise Jaccard but only within
  *    shared-token candidate buckets — never a cross join. Token
  *    posting lists are capped (`maxPostings`) so stop-word-like
  *    shingles can't quadratically explode a bucket; at 100 TB this
  *    cap is what keeps the candidate join bounded (the dropped
  *    ultra-common shingles carry ~no signal for near-dup anyway,
  *    and MinHash/LSH is the intended path at that scale).
  *  - minHashLsh: k minhashes in ONE pass over exploded tokens (k agg
  *    expressions, map-side combined), then band-bucket self-join —
  *    candidates only collide within a band bucket.
  *  - simHash: one codegen'd fingerprint expression per doc, Manku
  *    block-combination bucketing for candidates (exact at any block
  *    count; block count is the auto-dialed scale knob), popcount
  *    verify.
  */
/** The real intermediate frames of a bucketed candidate-pair
  * pipeline: `buckets` = membership rows entering the self-join,
  * `candidates` = deduplicated id pairs before verification,
  * `verified` = pairs surviving the exact check. Returned by the
  * `*Stages` variants so `graft.LshAudit` can count the actual plan
  * stages at each rehearsal SF (scaling attribution, not a
  * re-derivation that could drift from the operator). */
private[graft] final case class LshStages(
    buckets: DataFrame, candidates: DataFrame, verified: DataFrame)

object Dedup {

  /** Exact dedup: keep the smallest id per fingerprint group. */
  def exact(df: DataFrame, idCol: String, fpCol: String): DataFrame =
    df.groupBy(col(fpCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Apply step: rows that survive exact dedup (id == group winner).
    * One shuffle on the fingerprint; the winner is the min-id row via a
    * row_number window over that partitioning, so the whole row
    * survives without a second join against the input. */
  def dropExactDuplicates(df: DataFrame, idCol: String, fpCol: String): DataFrame = {
    val w = Window.partitionBy(col(fpCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Incremental dedup — the corpus-building loop: a NEW batch
    * arrives, anything whose fingerprint is already in the persisted
    * `seen` store drops (the store always wins — its copy shipped in
    * an earlier training mix), then the batch dedups within itself.
    * Two shuffle-free-on-payload steps: the store side carries ONLY
    * fingerprints (a left-anti join a 100 TB store serves from a
    * bucketed/broadcast layout), and the within-batch pass is the
    * standard min-id window on the batch alone. The survivors' (fp)
    * projection is exactly what gets appended back to the store —
    * the loop closes without ever rereading old payloads. */
  def incrementalExact(newBatch: DataFrame, idCol: String, fpCol: String,
                       seenFps: DataFrame): DataFrame = {
    val seen = seenFps.select(col(fpCol))
    dropExactDuplicates(
      newBatch.join(seen, Seq(fpCol), "left_anti"), idCol, fpCol)
  }

  /** Exact-substring (token-window) dedup, the span-level pass from
    * "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., ACL 2022): any `w`-token window whose text appears
    * verbatim at more than one (doc, pos) occurrence marks its covered
    * tokens for removal at every occurrence EXCEPT the canonical one
    * (min (doc_id, pos) — the copy that survives). Returns one row per
    * affected document: `doc_id, dup_windows, covered_tokens,
    * n_tokens` (covered = union length of the removable spans, via
    * sorted-starts + lead — fixed-width windows make the interval
    * union a single window function, no per-position explode).
    *
    * Scale shape: the corpus-wide shuffle key is `xxhash64(window)` —
    * 8 bytes, not the w-token string (the paper's pipelines do the
    * same; a 64-bit collision merging two distinct windows is ~n²/2⁶⁵
    * and only ever over-flags). One shuffle on the window hash (the
    * count+canon pass is a whole-partition window over that key, so a
    * boilerplate window repeated 10⁶ times costs a linear sorted
    * partition, never a pair blow-up), one shuffle on doc_id for the
    * span union. A round-11 rehearsal MEASURED the tempting
    * aggregate+join-back alternative (which AQE's skew splitter can
    * subdivide where a window partition can't) at 2.1× SLOWER at
    * sf1: the join branch recomputes the posexplode scan, and that
    * recompute dominates any realistic skew — so the window form
    * stands, and the whale-hash guidance is the same as the MinHash
    * caps': run EXACT dedup first so verbatim boilerplate never
    * reaches this operator at degenerate multiplicity.
    * The canonical occurrence is the lexicographically first
    * (doc_id, pos) in its window partition (row_number = 1) — no
    * arithmetic packing, so any Long doc_id and any document length
    * are safe. */
  def substringDedupStats(df: DataFrame, idCol: String, normCol: String, w: Int): DataFrame = {
    require(w >= 2, "window width under 2 degenerates to token counting")
    // Whitespace-canonicalize DEFENSIVELY so the split-based n_tokens
    // and the kernel's non-space-run tokens always agree: split(" ")
    // counts empty tokens on doubled spaces, the kernel skips them —
    // on unnormalized input a short doc could otherwise pass the ≥w
    // filter yet emit its whole-doc fallback hash as if it were a
    // w-token window. A no-op (one codegen'd regexp per doc) for the
    // normalized text q46 feeds.
    val cleaned = trim(regexp_replace(col(normCol), "\\s+", " "))
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        cleaned.as("norm"), size(split(cleaned, " ")).as("n_tokens"))
    // per-position window hashes in ONE kernel pass
    // ([[graft.plans.ShingleHashes]]): token XXH64s then the chained
    // window hash — the window STRINGS are never built (the former
    // transform+slice+concat_ws+xxhash64 formulation was interpreted
    // HOFs materializing O(n·w) bytes per doc before hashing).
    // Equality classes are unchanged modulo 64-bit collisions, the
    // same caveat the old text hash carried; the oracle groups on
    // window TEXT either way.
    val wins = base.where(col("n_tokens") >= w)
      .select(col("doc_id"),
        posexplode(call_function("graft_shingle_hashes", col("norm"), lit(w)))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    // canonical occurrence = lexicographic-first (doc_id, pos) in the
    // window-hash partition, i.e. row_number() = 1 under that order.
    // Not the former doc_id*1e6+pos packing — it overflowed Long once
    // doc_ids carried a 10^13-range shard shift (caught by the sf100
    // rehearsal under ANSI arithmetic). rn > 1 already implies the
    // partition has ≥2 occurrences, so no separate count pass is
    // needed. Trade-off vs the packed min: the window now sorts on
    // (h, doc_id, pos) instead of running an O(n) min buffer — for
    // whale hashes (verbatim boilerplate at degenerate multiplicity)
    // that sort can spill, which is one more reason the scaladoc's
    // run-exact-dedup-first guidance applies.
    val byHashOrd = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val removable = wins
      .withColumn("rn", row_number().over(byHashOrd))
      .where(col("rn") > 1)
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = removable
      .withColumn("nxt", lead(col("pos"), 1).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_windows"),
        sum(when(col("nxt").isNull || col("nxt") - col("pos") >= w, w)
          .otherwise(col("nxt") - col("pos"))).as("covered_tokens"))
    cov.join(base.select("doc_id", "n_tokens"), Seq("doc_id"))
  }

  /** Distinct (doc, shingle) pairs from a normalized-text column:
    * word `n`-gram shingles (n = 1 degenerates to the token set).
    * Documents shorter than `n` words contribute their whole text as
    * one shingle. Shingling (vs bare tokens) is what makes set
    * similarity mean *near-duplicate* — word order matters, and
    * ultra-common single words stop flooding the posting lists. */
  private[operators] def shingleSet(df: DataFrame, idCol: String, normCol: String, n: Int): DataFrame = {
    require(n >= 1)
    df.select(col(idCol), explode(shingleArray(col(normCol), n)).as("t"))
  }

  /** The distinct word `n`-gram shingles of one normalized text, as an
    * array (the short-document rule of [[shingleSet]]). */
  private def shingleArray(norm: Column, n: Int): Column = {
    val toks = split(norm, " ")
    if (n == 1) array_distinct(toks)
    else when(size(toks) >= n,
        array_distinct(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Exact token-set Jaccard similarity for all candidate pairs that
    * share at least one (not-too-common) token. Returns
    * (id_a, id_b, inter, size_a, size_b, jaccard). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, normCol: String,
      minJaccard: Double, ngram: Int = 3, maxPostings: Int = 10000): DataFrame =
    ngramJaccardStages(df, idCol, normCol, minJaccard, ngram, maxPostings).verified

  /** Stage frames for the audit: buckets = capped (doc, shingle)
    * postings, candidates = pairs sharing ≥1 shingle (pre-threshold),
    * verified = pairs at `jaccard ≥ minJaccard`. */
  private[graft] def ngramJaccardStages(
      df: DataFrame, idCol: String, normCol: String,
      minJaccard: Double, ngram: Int = 3, maxPostings: Int = 10000): LshStages = {
    // no cache: the shingle set is read twice but recomputing a
    // projection+explode is cheaper than pinning (doc, shingle) rows
    // in executor storage for the session lifetime
    val tok = shingleSet(df, idCol, normCol, ngram)
    val sizes = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val capped = tok.withColumn("__p", count(lit(1)).over(Window.partitionBy("t")))
      .where(col("__p") <= maxPostings).drop("__p")
    val a = capped.toDF("id_a", "t")
    val b = capped.toDF("id_b", "t")
    val inter = a.join(b, Seq("t")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val verified = inter
      .join(sizes.toDF("id_a", "size_a"), "id_a")
      .join(sizes.toDF("id_b", "size_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter") * lit(1.0) / (col("size_a") + col("size_b") - col("inter")), 6))
      .where(col("jaccard") >= minJaccard)
    LshStages(capped, inter, verified)
  }

  /** MinHash signatures (k hash functions realized as seeded xxhash64
    * of the token) + banded LSH candidate generation. Returns candidate
    * pairs with the signature-agreement estimate of Jaccard.
    *
    * Shuffle discipline (the 100 TB part): the band self-join carries
    * ONLY (id, band, bandHash) — signatures never enter that shuffle —
    * and candidate pairs are deduplicated down to bare id pairs before
    * the two signature joins, so each surviving pair fetches its two
    * 64-long signatures exactly once. Band geometry defaults to
    * r=8 rows/band (collision threshold j ≈ (1/b)^(1/r) ≈ 0.77),
    * which keeps bucket occupancy — and thus the join fan-out —
    * bounded on corpora with high ambient similarity. */
  def minHashLshPairs(
      df: DataFrame, idCol: String, normCol: String,
      numHashes: Int = 64, bands: Int = 8, minEstJaccard: Double = 0.7,
      ngram: Int = 3, maxBucket: Int = 4096): DataFrame =
    minHashLshStages(df, idCol, normCol, numHashes, bands, minEstJaccard,
      ngram, maxBucket).verified

  /** The REAL intermediate frames of the LSH pipeline (audit hook:
    * `LshAudit` counts these stages at each rehearsal SF to attribute
    * scaling — bucket rows, candidate pairs, verified pairs — so a
    * superlinear bench number can be pinned to the stage that grew). */
  private[graft] def minHashLshStages(
      df: DataFrame, idCol: String, normCol: String,
      numHashes: Int = 64, bands: Int = 8, minEstJaccard: Double = 0.7,
      ngram: Int = 3, maxBucket: Int = 4096): LshStages = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // the whole signature is ONE map-side expression per document
    // ([[graft.plans.MinHashSignature]]): no shingle explode, no
    // 30-80× row blowup through a shuffle, no k-wide aggregate — the
    // only shuffle in this operator is the band-bucket join below.
    //
    // The plan reads this frame THREE times with different downstream
    // keys (band explode, verify join on id_a, verify join on id_b);
    // ReuseExchange can't share them, so the kernel re-runs per read.
    // That recompute is DELIBERATE: an eager localCheckpoint was
    // measured (sf100, 5M docs) a wash for a cold single run (the
    // ~10 s materialization job ≈ the recomputes it saves, 31.7 vs
    // 32-35 s end-to-end), while truncating the lineage the plan
    // audit inspects (q42 would show a LogicalRDD instead of the
    // kernel stages), pinning ~520 B/doc of block-manager storage for
    // the session's lifetime, and breaking any future streaming
    // caller outright. A lazy checkpoint doesn't help either — the
    // three consumers are independent stages the scheduler runs in
    // parallel, racing ahead of block persistence (measured ≈ no
    // checkpoint). A one-join fetch-both-sides pivot variant also
    // measured slower than the two plain joins (33.1 vs 16.2 s warm).
    val sig = df.select(col(idCol),
        call_function("graft_minhash_sig", col(normCol), lit(ngram), lit(numHashes)).as("sig"))
      .where(col("sig").isNotNull)
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"), xxhash64(slice(col("sig"), j * rows + 1, rows)).as("bh"))
    }
    val buckets0 = sig.select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh"))
    // whale-bucket cap (same discipline as lshAnnPairs/ngram
    // maxPostings): a mass-duplicated document — web boilerplate,
    // license pages — puts every copy in one band bucket and the
    // self-join goes quadratic. Lowest ids win deterministically;
    // run EXACT dedup first so verbatim copies never reach here.
    val buckets = buckets0
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("band"), col("bh")).orderBy(col(idCol))))
      .where(col("__rn") <= maxBucket).drop("__rn")
    val cand = buckets.toDF("id_a", "band", "bh")
      .join(buckets.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val verified = cand
      .join(sig.toDF("id_a", "sig_a"), "id_a")
      .join(sig.toDF("id_b", "sig_b"), "id_b")
      .withColumn("est_jaccard",
        round(call_function("graft_array_eq_count", col("sig_a"), col("sig_b"))
          * lit(1.0) / numHashes, 6))
      .where(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
    LshStages(buckets, cand, verified)
  }

  /** Connected components over near-dup pairs → dedup clusters: every
    * node labeled with the min id reachable through the pair graph
    * (the canonical representative a dedup pipeline keeps).
    *
    * Min-label propagation: each round pushes labels across edges and
    * keeps the min per node; converges in O(graph diameter) rounds —
    * near-dup graphs are unions of small cliques, so typically 2-3.
    * Each round is one shuffle; `localCheckpoint` truncates the plan
    * so lineage doesn't grow exponentially (on a cluster use
    * `checkpoint` to HDFS for fault tolerance). Returns (id, cluster_rep)
    * for every node that appears in `pairs`. */
  /** MinHash + banded LSH with ORACLE-ABLE hashes (round 10) — the
    * cross-engine-verifiable variant of [[minHashLshPairs]] (whose
    * seeded-xxhash chains no SQL engine replays). Shingle → 48-bit
    * integer via the first 12 hex chars of md5 (portable: every
    * engine's md5 of the same string matches), then k universal-hash
    * permutations hᵢ(x) = (aᵢ·x + bᵢ) mod P with aᵢ = 2i+3,
    * bᵢ = 5i+7, P = 9007199254740881 (prime; aᵢ·x < 2⁵⁴ — exact in
    * i64 on any engine). Bands of 2: a pair is a candidate when both
    * components of any band agree; estJaccard = agreeing fraction of
    * the k components.
    *
    * Shuffle discipline matches [[minHashLshPairs]]: signatures
    * compute per-doc with array HOFs (no per-shingle explode), the
    * band self-join carries only (id, band, two longs), and each
    * surviving pair fetches its two signatures exactly once. This
    * variant is deliberately uncapped (the cap's row_number order is
    * replayable but muddies the oracle); production whale-bucket
    * protection lives in [[minHashLshPairs]]. */
  def minhashOraclePairs(df: DataFrame, idCol: String, normCol: String,
                         k: Int = 16, ngram: Int = 3,
                         minMatch: Int = 8): DataFrame = {
    require(k % 2 == 0 && k > 0)
    val P = 9007199254740881L
    val shingles = shingleArray(col(normCol), ngram)
    // shingle string → portable 48-bit int (md5 prefix, both engines
    // lowercase-hex); conv returns a decimal string, exact at 48 bits.
    // MATERIALIZE the int array in its own projection: the k minhash
    // lambdas below each reference it, and without the projection
    // boundary Catalyst inlines the md5+conv into every lambda — k×
    // the hash work per shingle (measured 3.8 s vs ~0.5 s at the
    // gate slice).
    val ints = transform(shingles,
      s => conv(substring(md5(s.cast("binary")), 1, 12), 16, 10).cast("long"))
    val withInts = df.select(col(idCol).as("id"), ints.as("__ints"))
    val sig = array((0 until k).map { i =>
      array_min(transform(col("__ints"), x => (x * lit(2L * i + 3) + lit(5L * i + 7)) % lit(P)))
    }: _*)
    val sigs = withInts.select(col("id"), sig.as("sig"))
    val bands = sigs.select(col("id"), explode(array((0 until k / 2).map { b =>
      struct(lit(b).as("band"), col("sig")(2 * b).as("h1"), col("sig")(2 * b + 1).as("h2"))
    }: _*)).as("bk")).select(col("id"), col("bk.band"), col("bk.h1"), col("bk.h2"))
    val cand = bands.toDF("id_a", "band", "h1", "h2")
      .join(bands.toDF("id_b", "band", "h1", "h2"), Seq("band", "h1", "h2"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sigs.toDF("id_a", "sig_a"), "id_a")
      .join(sigs.toDF("id_b", "sig_b"), "id_b")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)).cast("long"))
      .where(col("n_match") >= minMatch)
      .select(col("id_a"), col("id_b"), col("n_match"),
        round(col("n_match") / lit(k.toDouble), 6).as("est_jaccard"))
  }

  /** SimHash with ORACLE-ABLE hashes (round 10) — the cross-engine
    * variant of [[simHashPairs]]. Per-shingle 60-bit ints from md5
    * prefixes (60 not 64: stays positive in signed i64 on every
    * engine); fingerprint bit j is the sign of Σ(±1) over shingles'
    * bit j; candidates must agree on one of four 15-bit chunks
    * (pigeonhole: hamming ≤ 6 < 4 chunks ⇒ some chunk is untouched…
    * not guaranteed for 6 > 3, so the chunk filter is the standard
    * recall/cost trade at this radius); verification is exact
    * `bit_count(fp_a XOR fp_b)`. The per-(doc,bit) grid explode is
    * gate-scale only — [[simHashPairs]] computes the 64 sums in one
    * pass for production. */
  /** The PORTABLE 60-bit SimHash fingerprint per document — the
    * cross-engine hash family behind [[simhashOraclePairs]] and the
    * streaming near-dedup gate: per-shingle 60-bit ints from md5
    * prefixes, fingerprint bit j = sign of Σ(±1) over shingles' bit
    * j. Returns (id, fp). Computed via a per-(doc, bit) grid + two
    * aggregations, NOT a per-row 60-fold HOF pass: ArrayAggregate is
    * CodegenFallback (interpreted), and as an aggregated exchange the
    * fp subtree is computed once and REUSED (ReuseExchange) when
    * referenced repeatedly, while a map-side projection would be
    * recomputed per reference (measured 3× slower). q43's production
    * kernel does the one-pass 64-sum natively; this family's job is
    * oracle-replayability. */
  private[graft] def simhashOracleFp(df: DataFrame, idCol: String,
                                     normCol: String, ngram: Int = 3,
                                     bits: Int = 60): DataFrame = {
    val sh = shingleSet(df, idCol, normCol, ngram)
    val xi = sh.select(col(idCol).as("id"),
      conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long").as("x"))
    val grid = xi.select(col("id"), col("x"),
      explode(sequence(lit(0), lit(bits - 1))).as("j"))
    val sums = grid.groupBy(col("id"), col("j"))
      .agg(sum(expr("(shiftright(x, j) & 1) * 2 - 1")).as("s"))
    sums.groupBy("id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
        .otherwise(lit(0L))).as("fp"))
  }

  def simhashOraclePairs(df: DataFrame, idCol: String, normCol: String,
                         ngram: Int = 3, maxHamming: Int = 6): DataFrame = {
    val fp = simhashOracleFp(df, idCol, normCol, ngram)
    val chunks = fp.select(col("id"), explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), expr(s"shiftright(fp, ${15 * c}) & 32767").as("ck"))): _*)).as("b"))
      .select(col("id"), col("b.c").as("c"), col("b.ck").as("ck"))
    val cand = chunks.toDF("id_a", "c", "ck")
      .join(chunks.toDF("id_b", "c", "ck"), Seq("c", "ck"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(fp.toDF("id_a", "fp_a"), "id_a")
      .join(fp.toDF("id_b", "fp_b"), "id_b")
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def clusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
               maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // The previous label rides through the aggregation (every node
      // already has exactly one labels row, so first(ignoreNulls) picks
      // it up), making the convergence check a shuffle-free filter over
      // the checkpointed result instead of a second join per round.
      val next = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"),
                lit(null).cast(labels.schema("label").dataType).as("prev"))
        .union(labels.select(col("id"), col("label"), col("label").as("prev")))
        .groupBy("id").agg(min("label").as("label"), first("prev", ignoreNulls = true).as("prev"))
        .localCheckpoint(true)
      converged = next.where(col("label") =!= col("prev")).isEmpty
      labels = next.drop("prev")
      i += 1
    }
    labels.withColumnRenamed("label", "cluster_rep")
  }

  /** 64-bit SimHash per document + hamming-distance near-dup pairs,
    * candidates generated by block-combination equality (Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW 2007 §3): split the fingerprint into `blocks` ≥ maxHamming+1
    * bit blocks; a pair within hamming distance d differs in at most
    * d blocks, so it agrees EXACTLY on some (blocks − d)-subset —
    * joining on every C(blocks, d) packed subset key finds all pairs
    * with zero recall loss at any block count.
    *
    * `blocks` is the SCALE dial: candidate volume within a bucket is
    * quadratic in occupancy, and occupancy ∝ N / 2^keyBits where
    * keyBits ≈ 64·(blocks−d)/blocks. blocks = d+1 (the minimum, and
    * the historical default) keys on 16 bits — fine to ~10^5 docs;
    * past that, raise blocks (or use [[simHashPairsAuto]]) to widen
    * the key faster than the C(blocks, d) row-replication grows.
    * The sf100 rehearsal measured the failure of the fixed dial:
    * 5M docs on 16-bit keys = 286 s of bucket self-join; the auto
    * dial's 32-bit keys collapse the candidate set to near-linear. */
  def simHashPairs(
      df: DataFrame, idCol: String, normCol: String,
      maxHamming: Int = 3, ngram: Int = 3, maxBucket: Int = 4096,
      blocks: Int = 4): DataFrame =
    simHashStages(df, idCol, normCol, maxHamming, ngram, maxBucket, blocks).verified

  /** The audit hook behind [[simHashPairs]] — see [[LshStages]]. */
  private[graft] def simHashStages(
      df: DataFrame, idCol: String, normCol: String,
      maxHamming: Int = 3, ngram: Int = 3, maxBucket: Int = 4096,
      blocks: Int = 4): LshStages = {
    require(maxHamming >= 1,
      "maxHamming 0 is exact duplication — use Dedup.exact on a content fingerprint " +
        "(a single 64-bit block would also need a mask wider than a Long)")
    require(blocks > maxHamming,
      s"blocks ($blocks) must exceed maxHamming ($maxHamming) for the pigeonhole guarantee")
    require(blocks <= 32, s"blocks ($blocks) > 32: combination blowup exceeds any bucketing win")
    // one map-side expression per document ([[graft.plans.SimHash64]]):
    // majority vote over shingle-hash bits computed in a tight loop,
    // replacing the explode + 64-aggregate-buffer shuffle
    val hashed = df.select(col(idCol),
        call_function("graft_simhash64", col(normCol), lit(ngram)).as("simhash"))
      .where(col("simhash").isNotNull)
    // block b covers widths(b) bits starting at offsets(b); widths
    // differ by ≤1 so no block is a degenerate narrow key
    val widths = (0 until blocks).map(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(b: Int) =
      shiftright(col("simhash"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    // every (blocks − d)-subset, packed into one long (selected
    // widths sum to ≤ 64 − d bits, so the pack always fits)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val keyCols = combos.zipWithIndex.map { case (sel, i) =>
      val (packed, _) = sel.foldLeft((lit(0L), 0)) { case ((acc, shift), b) =>
        (acc.bitwiseOR(shiftleft(blockVal(b), shift)), shift + widths(b))
      }
      struct(lit(i).as("c"), packed.as("v"))
    }
    val chunks0 = hashed.select(col(idCol), col("simhash"),
        explode(array(keyCols: _*)).as("ch"))
      .select(col(idCol), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    // same whale-bucket cap as minHashLshPairs: identical simhashes
    // collapse to one (combo, key) bucket per combo
    val chunks = chunks0
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("c"), col("v")).orderBy(col(idCol))))
      .where(col("__rn") <= maxBucket).drop("__rn")
    val l = chunks.toDF("id_a", "sim_a", "c", "v")
    val r = chunks.toDF("id_b", "sim_b", "c", "v")
    val cand = l.join(r, Seq("c", "v")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").dropDuplicates("id_a", "id_b")
    val verified = cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    LshStages(chunks, cand, verified)
  }

  /** Block-count dial for [[simHashPairs]]: the smallest block count
    * whose worst-case packed-key width (the blocks−d NARROWEST
    * blocks) reaches ceil(log₂(N / targetOccupancy)) — same shape as
    * [[graft.operators.Similarity.autoPlanes]]. The upper clamp is on
    * the COST the dial drives — the per-document key replication
    * C(blocks, d) — not a fixed block offset: the largest block count
    * with C(blocks, d) ≤ 256 combos (C(12,3)=220 at the default d=3,
    * the historical cap; at d=6 it stops at 10 blocks = 210 combos,
    * where a fixed +9 offset would have silently allowed 15 blocks =
    * C(15,6) = 5005 key rows per document). 64 blocks is the hard
    * ceiling (one bit per block of a 64-bit simhash), and the ~48-bit
    * key space at the d=3 cap already holds 10^12 docs at
    * occupancy 64. */
  def autoSimHashBlocks(n: Long, maxHamming: Int = 3,
                        targetOccupancy: Int = 64, bits: Int = 64): Int = {
    require(maxHamming >= 1, "maxHamming 0 is exact duplication — use Dedup.exact")
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    require(bits >= maxHamming + 1 && bits <= 64, s"fingerprint width $bits out of range")
    val needed = math.ceil(
      math.log(math.max(math.max(n, 1L).toDouble / targetOccupancy, 1.0)) / math.log(2)).toInt
    // key bits come from the ACTUAL fingerprint width: the streaming
    // family carries 60-bit portable fps, and sizing them as if 64
    // under-buckets by up to 2^4
    def minKeyBits(blocks: Int): Int = {
      val widths = (0 until blocks).map(b => bits / blocks + (if (b < bits % blocks) 1 else 0))
      widths.sorted.take(blocks - maxHamming).sum
    }
    // C(b, d) exactly (iterative r·(b−d+i)/i stays integral); monotone
    // in b for fixed d and the scan stops at ≤256, so no overflow
    def combos(b: Int): Long = {
      var r = 1L
      var i = 1
      while (i <= maxHamming) { r = r * (b - maxHamming + i) / i; i += 1 }
      r
    }
    val lo = maxHamming + 1
    val hi = (lo to bits).takeWhile(b => combos(b) <= 256L).lastOption.getOrElse(lo)
    (lo to hi).find(b => minKeyBits(b) >= needed).getOrElse(hi)
  }

  /** [[simHashPairs]] with `blocks` dialed from the corpus count at
    * call time (metadata-only when the input is a parquet scan —
    * [[graft.operators.Similarity.corpusCount]]). The chosen dial is
    * observable on the result via the `graft_simhash_dial` metric. */
  def simHashPairsAuto(df: DataFrame, idCol: String, normCol: String,
                       maxHamming: Int = 3, ngram: Int = 3,
                       maxBucket: Int = 4096,
                       targetOccupancy: Int = 64): DataFrame = {
    val n = Similarity.corpusCount(df)
    val blocks = autoSimHashBlocks(n, maxHamming, targetOccupancy)
    simHashPairs(df, idCol, normCol, maxHamming, ngram, maxBucket, blocks)
      .observe("graft_simhash_dial",
        max(lit(blocks)).as("blocks"), max(lit(n)).as("corpus_n"))
  }
}
