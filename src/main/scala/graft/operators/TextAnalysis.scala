package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: normalization,
  * token statistics, quality scoring, language-ID heuristic, document
  * fingerprinting. Every per-row operator is a column expression (no
  * UDFs) and runs as a projection over the scan at any scale. Most are
  * plain Catalyst; `langId`, `ngramArray`, `repetitionSignals` and the
  * BPE merge fold use higher-order functions, which Spark interprets.
  * The per-document token work of `qualityScore` and `chunks` runs in
  * native kernels ([[graft.plans.TokenKernels]]), as do the BPE
  * encoders ([[graft.plans.BpeFns]]); those need `GraftExtensions` on
  * the session (see [[graft.plans.GraftExtensions]]).
  */
object TextAnalysis {

  /** Canonical normalization: collapse whitespace, trim, lowercase. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def tokens(norm: Column): Column = split(norm, " ")

  /** Deterministic [0,1] quality score from length, stopword ratio and
    * type-token ratio — the classic cheap pre-filter for web corpora.
    * The counts over `tokens(norm)` come from one native pass
    * (`graft_token_stats`, stopwords [[graft.plans.TokenKernels
    * .DefaultStopwords]]); the arithmetic stays codegen'd Catalyst. */
  def qualityScore(norm: Column): Column = {
    val stats = call_function("graft_token_stats", norm)
    val nTok  = stats.getField("n_tok").cast("double")
    val nUniq = stats.getField("n_uniq").cast("double")
    val stops = stats.getField("n_stop").cast("double")
    round(least(nTok / 50.0, lit(1.0)) * 0.4 + (stops / nTok) * 0.3 + (nUniq / nTok) * 0.3, 6)
  }

  /** BPE-ish subword-ready tokenization: runs of letters, runs of
    * digits, and single non-space symbols — the pre-merge word-piece
    * boundary a byte-pair tokenizer starts from. Counting these
    * approximates LLM token counts far better than whitespace words
    * (punctuation and numbers cost tokens). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Content fingerprint: md5 of the normalized text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set — catches shuffled/reordered copies of a document. */
  def tokenSetFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(normalize(text)))), " ").cast("binary"))

  /** Language-ID heuristic: score each language by marker-token hits,
    * argmax with a deterministic tie order. N-gram frequency profiles
    * are the real method at scale; marker sets are the cheap first
    * pass and keep the whole thing inside codegen. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"),
  )

  def langId(norm: Column): Column = {
    val toks = tokens(norm)
    val scored = langMarkers.map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isInCollection(markers))).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct(score, lang): max score, ties broken by lang desc —
    // deterministic. Score 0 everywhere → "und" (undetermined).
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** PII redaction: emails, IPv4 addresses, then phone-shaped digit
    * runs (order matters — the IP pass must not see digits the email
    * pass owned, and the phone class has no dots so IPs survive it
    * untouched). Patterns are RE2-safe (no backrefs/lookahead) so the
    * exact same regexes run in any engine. One projection, codegen'd. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+?\\d[\\d -]{7,}\\d"

  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Fixed-size token chunking with overlap — the standard
    * training-data windowing (chunk i covers tokens
    * [i·stride, i·stride+chunkLen) of `tokens(norm)`, stride =
    * chunkLen − overlap; the final partial chunk is kept iff it adds
    * tokens). One native pass per document (`graft_chunks`): each
    * chunk is the space-joined token run, cut from the text by byte
    * offset. A per-row projection, so it scales as the scan does — no
    * shuffle. */
  def chunks(norm: Column, chunkLen: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkLen, "need 0 <= overlap < chunkLen")
    call_function("graft_chunks", norm, lit(chunkLen), lit(overlap))
  }

  /** Word n-gram array (space-joined windows); empty when the document
    * is shorter than n words. */
  def ngramArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Run lengths of a SORTED gram array — the per-document frequency
    * histogram computed WITHOUT a shuffle: mark run starts, diff
    * consecutive start positions. `sorted` must be a plain column
    * reference: the lambda body indexes it per element, and a staged
    * attribute makes that O(1) even under interpreted (non-codegen)
    * evaluation. */
  private def runLengths(sorted: Column): Column = {
    val m = size(sorted)
    val starts = filter(sequence(lit(1), m),
      i => (i === 1) || (element_at(sorted, i) =!= element_at(sorted, i - 1)))
    zip_with(
      starts,
      concat(slice(starts, lit(2), greatest(size(starts) - 1, lit(0))), array(m + 1)),
      (a, b) => b - a)
  }

  /** Gopher-style repetition signals — the quality filters an LLM
    * corpus pipeline runs before training (duplicate-content fraction
    * at several n-gram sizes, dominance of the single most frequent
    * n-gram, mean word length). Per-row array math with NO shuffle: at
    * 100 TB this is a map-only pass over the scan.
    *
    * Each intermediate (token array, gram arrays, sorted copies, run
    * lengths) is STAGED as its own projection column, deliberately:
    * a single fused expression here both blows past the codegen method
    * limit (falling back to interpreted eval) and re-evaluates shared
    * subtrees per array element in that mode — O(m²) normalizations
    * per row. Staged attributes evaluate once per row regardless of
    * evaluation mode, and CollapseProject keeps multiply-referenced
    * non-cheap aliases staged. Emitted fractions:
    * top_X_frac  = occurrences of the most frequent X / total X,
    * dup_X_frac  = occurrences of X-grams appearing more than once / total X. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = docs
      .withColumn("__toks", tokens(normalize(col(textCol))))
      .withColumn("__s1", array_sort(col("__toks")))
      .withColumn("__s2", array_sort(ngramArray(col("__toks"), 2)))
      .withColumn("__s5", array_sort(ngramArray(col("__toks"), 5)))
      .withColumn("__r1", runLengths(col("__s1")))
      .withColumn("__r2", runLengths(col("__s2")))
      .withColumn("__r5", runLengths(col("__s5")))
    def metrics(sorted: String, runs: String, name: String): Seq[Column] = {
      val m = size(col(sorted)).cast("double")
      val top = when(m > 0, array_max(col(runs)).cast("double") / m).otherwise(0.0)
      val dup = when(m > 0,
        aggregate(col(runs), lit(0), (a, r) => a + when(r > 1, r).otherwise(0)).cast("double") / m)
        .otherwise(0.0)
      Seq(round(top, 6).as(s"top_${name}_frac"), round(dup, 6).as(s"dup_${name}_frac"))
    }
    val cols = Seq(
      col(idCol),
      size(col("__toks")).cast("long").as("n_words"),
      round(aggregate(col("__toks"), lit(0), (a, t) => a + length(t)).cast("double")
        / size(col("__toks")), 4).as("mean_word_len")) ++
      metrics("__s1", "__r1", "word") ++
      metrics("__s2", "__r2", "bigram") ++
      metrics("__s5", "__r5", "gram5")
    staged.select(cols: _*)
  }

  /** Deterministic shard assignment for training-data layout: shard =
    * first hex nibble of md5(normalized text) → 16 stable,
    * content-addressed shards. Content hashing (vs round-robin) keeps
    * assignment reproducible across runs and engines, and co-locates
    * exact duplicates in one shard — dedup within a shard is then
    * global dedup. Nibbles compose: k hex chars give 16^k shards. */
  def shardOf(text: Column): Column = md5Nibble(normalize(text))

  private def md5Nibble(norm: Column): Column =
    conv(substring(md5(norm.cast("binary")), 1, 1), 16, 10).cast("int")

  /** Perplexity-proxy quality scoring: each document's mean unigram
    * log-probability under the corpus's own unigram LM — the cheap
    * KenLM stand-in corpus pipelines use to rank documents before a
    * real LM pass (low mean logprob ⇒ rare-token soup ⇒ low quality).
    *
    * Shape at scale: per-document term frequencies FIRST (shrinks the
    * posting join to distinct (doc, word) pairs), then a shuffle join
    * against the word-count table on the word key, re-aggregated per
    * document; the corpus total rides as a one-row broadcast. No
    * driver-side state — the vocabulary never leaves the cluster.
    * Returns (id, n_toks, avg_logprob). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val post = docs.select(col(idCol), explode(tokens(normalize(col(textCol)))).as("__w"))
    val tf = post.groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val wc = tf.groupBy("__w").agg(sum("__tf").as("__c"))
    val total = wc.agg(sum("__c").as("__total"))
    tf.join(wc, "__w")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum("__tf").cast("long").as("n_toks"),
           round(sum(col("__tf") * (log(col("__c")) - log(col("__total")))) / sum("__tf"), 4)
             .as("avg_logprob"))
  }

  /** BM25 relevance scoring of every document against a fixed term
    * set — the retrieval primitive for corpus search and
    * quality-by-query curation. Okapi BM25:
    * score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Shape at scale: the posting explode filters to the query terms
    * BEFORE its aggregation, so the tf shuffle carries only matching
    * (doc, term) pairs — posting-list size, not corpus size; the
    * per-term document frequencies and the corpus stats are one-row/
    * few-row broadcasts. Returns (id, score, n_terms). */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol), split(normalize(col(textCol)), " ").as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    val stats = base.agg(count(lit(1)).as("__n_docs"), avg("__dl").as("__avgdl"))
    val tf = base.select(col(idCol), col("__dl"), explode(col("__toks")).as("__term"))
      .where(col("__term").isin(terms: _*))
      .groupBy(col(idCol), col("__term"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
    val dfPerTerm = tf.groupBy("__term").agg(countDistinct(col(idCol)).as("__df"))
    tf.join(broadcast(dfPerTerm), "__term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n_docs") - col("__df") + 0.5) / (col("__df") + 0.5) + 1))
      .withColumn("__contrib",
        col("__idf") * col("__tf") /
          (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(sum("__contrib").as("score"), count(lit(1)).as("n_terms"))
  }

  /** Reciprocal-rank fusion (round 17) — the standard hybrid-retrieval
    * combiner: each leg is a TOP-N frame of (id, score) from one
    * retrieval mode (BM25, dense cosine, …), ranks are re-derived
    * deterministically inside each leg (score desc, id — the same
    * tie-break the legs' own ORDER BYs use), and the fused score is
    * Σ 1/(rrfK + rank) over the legs an id appears in. Returns
    * (id, rrf rounded to 6, n_legs), fused top-k.
    *
    * Scale shape: the legs are top-N by CONTRACT (a leg is the output
    * of bm25/bruteForceTopK/ivf — each already a bounded frame), so
    * the un-partitioned rank windows and the union run on result-set-
    * sized inputs; the heavy lifting stays in the legs' own plans.
    * Round 18: the contract is ENFORCED — a leg above `maxLegRows`
    * (default 100k, still instant to rank) refuses loudly instead of
    * becoming a one-task external sort. */
  def rrfFuse(legs: Seq[(DataFrame, String, String)], rrfK: Int = 60,
              topK: Int = 10, maxLegRows: Int = 100000): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    // ENFORCE the bounded-leg contract IN the plan, not with an eager
    // count: the rank windows below are un-partitioned (single task),
    // safe only because each leg is a top-N result frame, and an
    // unbounded leg would silently become a one-task external sort.
    // Each leg caps at limit(maxLegRows + 1) — never ranking more than
    // cap+1 rows — and a rank reaching cap+1 proves the leg overflowed
    // and raises at execution. One pass per leg (the first cut of this
    // check ran limit().count() eagerly, which EXECUTED every leg
    // twice — exactly doubling q57b's expensive BM25/dense legs; the
    // sf10 bench cell read 1.93× and gave it away).
    val ranked = legs.zipWithIndex.map { case ((df, idCol, scoreCol), i) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol))
      df.limit(maxLegRows + 1)
        .select(col(idCol).cast("long").as("id"),
          row_number().over(w).as("__rank"))
        .withColumn("__rank",
          when(col("__rank") <= maxLegRows, col("__rank"))
            .otherwise(raise_error(lit(
              s"rrfFuse leg $i exceeds maxLegRows=$maxLegRows; legs must be bounded " +
                "top-N frames — pre-limit each leg (.limit(n)) or raise maxLegRows"))))
    }
    ranked.reduce(_ unionAll _)
      .groupBy(col("id"))
      .agg(round(sum(lit(1.0) / (lit(rrfK) + col("__rank"))), 6).as("rrf"),
        count(lit(1)).as("n_legs"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
  }

  /** Train/eval contamination check — the overlap audit every LLM
    * data pipeline needs before a benchmark is trusted: for each
    * document of the eval slice, the fraction of its word `ngram`
    * shingles that appear anywhere in the training slice.
    *
    * Shape at scale: training shingles are projected to the bare
    * shingle column and distinct'd (map-side combined) before a
    * LEFT SEMI join against the eval postings — the shuffle carries
    * shingles, never documents, and the semi join never multiplies
    * rows. Returns (id, n_sh, n_hit, frac). */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    evalPred: Column, ngram: Int = 5): DataFrame = {
    val normed  = docs.withColumn("__norm", normalize(col(textCol)))
    val evalSh  = Dedup.shingleSet(normed.where(evalPred), idCol, "__norm", ngram)
    val trainSh = Dedup.shingleSet(normed.where(!evalPred), idCol, "__norm", ngram)
      .select("t").distinct()
    val totals = evalSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val hits = evalSh.join(trainSh, Seq("t"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("frac", round(col("n_hit") * lit(1.0) / col("n_sh"), 4))
  }

  /** The end-to-end corpus-curation pipeline, composed from the
    * operators above: exact dedup (min-id winner per content
    * fingerprint) → quality filter → fixed-size chunking with overlap
    * → content-addressed shard assignment. Output: one row per
    * surviving chunk (doc_id, chunk_idx, chunk, n_tokens, shard).
    *
    * Shape at scale: ONE shuffle (the dedup window on the
    * fingerprint); normalization, scoring, chunking and sharding are
    * per-row work on either side of it. Scoring and chunking tokenize
    * each surviving document once, in the native `graft_token_stats`
    * and `graft_chunks` kernels (so the session needs
    * `GraftExtensions`); normalization, the fingerprint and the shard
    * hash are codegen'd Catalyst. A chunk of normalized text is
    * already normalized, so its shard is the first md5 nibble of the
    * chunk itself — the value [[shardOf]] gives for it. The shard
    * column is the natural `repartition`/`partitionBy` key for the
    * final write — duplicates co-locate by construction. */
  def curateChunks(docs: DataFrame, idCol: String, textCol: String,
                   minQuality: Double, chunkLen: Int, overlap: Int): DataFrame = {
    val normed = docs
      .withColumn("__norm", normalize(col(textCol)))
      .withColumn("__fp", md5(col("__norm").cast("binary")))
      // scored in the projection, not in the filter after the dedup:
      // the score reads the kernel's struct five times, and codegen
      // shares that subexpression in a projection but not in a Filter
      // (the optimizer would push a projected score into the filter)
      .withColumn("__q", qualityScore(col("__norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    val deduped = normed
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    deduped
      .where(col("__q") >= minQuality)
      .select(col(idCol), posexplode(chunks(col("__norm"), chunkLen, overlap)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("n_tokens", size(split(col("chunk"), " ")))
      .withColumn("shard", md5Nibble(col("chunk")))
  }

  /** BPE APPLY: tokenize `text` with the merge rules [[bpeTrain]]
    * learned — the map-only hot path that runs on every document
    * (see [[graft.plans.BpeFns]] for the per-JVM rank-table and
    * word-memo design). Normalization and word-splitting match the
    * trainer, so `bpeEncode(text, bpeTrain(corpus…)._1)` tokenizes
    * exactly the symbols the training corpus produced. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_encode", normalize(text),
      lit(merges.map { case (a, b) => s"$a $b" }.mkString("\n")))

  /** Byte-pair-encoding trainer (Sennrich et al. 2016, the standard
    * subword-tokenizer recipe): learns `numMerges` merge rules over
    * the corpus and returns them with the final symbol vocabulary.
    *
    * Distribution shape: the corpus collapses ONCE to a (word,
    * frequency) table (the only data-sized shuffle — corpus scale
    * stops mattering after it, state is O(distinct words)); each
    * JOB is then one pair-count aggregation over that table plus a
    * map-side merge fold, and the driver holds only the top-`batchK`
    * pairs per job (a bounded collect, the same per-round driver
    * envelope [[graft.operators.Dedup.clusters]] uses). The word
    * table is localCheckpoint-truncated periodically so lineage
    * doesn't grow with merges. Ties break (count desc, pair asc) —
    * fully deterministic, which the spec pins on the classic
    * low/lower/newest/widest example.
    *
    * Merge batching (the ~batchK× driver-round-trip cut): from one
    * ranked count job, several merges can be applied at once and
    * still equal the strictly-sequential result. Safe prefix rule,
    * with proof sketch: merging (a,b) never raises any existing
    * pair's count, leaves pairs disjoint from {a,b} untouched, and
    * any NEW pair (x,ab)/(ab,y) is bounded by the old count of a
    * pair overlapping {a,b}. Accept the ranked prefix that stays
    * pairwise symbol-disjoint, stop at the first overlap, and keep
    * only pairs counting STRICTLY above the first non-accepted
    * rank — every threat (decayed overlap or spawned ab-pair) then
    * sits strictly below each accepted pair at its turn, so the
    * sequential argmax is unchanged, tie order included. */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               batchK: Int = 8): (Seq[(String, String)], DataFrame) = {
    val words = docs
      .select(explode(tokens(normalize(col(textCol)))).as("word"))
    trainMerges(words, numMerges, batchK)
  }

  /** Byte-level BPE trainer (the GPT-2 public recipe, Radford et al.
    * 2019 §2.2): the symbol alphabet is the 256 UTF-8 bytes (rendered
    * printable by the byte↔char table in [[graft.plans.BpeFns]]) and
    * the word universe is the GPT-2 regex pre-tokens, so merges never
    * cross a pre-token and EVERY string tokenizes — no unknown-symbol
    * escape hatch, and decode(encode(x)) == x exactly. Same
    * distribution shape as [[bpeTrain]]: one (word, freq) collapse,
    * then bounded-collect merge rounds. */
  def bpeTrainBytes(docs: DataFrame, textCol: String, numMerges: Int,
                    batchK: Int = 8): (Seq[(String, String)], DataFrame) = {
    val words = docs
      .select(explode(call_function("graft_bpe_byte_pretokens", col(textCol))).as("word"))
    trainMerges(words, numMerges, batchK)
  }

  /** Byte-level BPE APPLY — [[graft.plans.BpeFns.encodeBytes]]: GPT-2
    * pre-tokenize + greedy ranked merges, map-only on raw text (no
    * normalization: bytes are the alphabet, case and whitespace are
    * tokens like any other). */
  def bpeEncodeBytes(text: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_byte_encode", text,
      lit(merges.map { case (a, b) => s"$a $b" }.mkString("\n")))

  /** Inverse of [[bpeEncodeBytes]] — the round-trip identity. */
  def bpeDecodeBytes(tokens: Column): Column =
    call_function("graft_bpe_byte_decode", tokens)

  private def trainMerges(words0: DataFrame, numMerges: Int,
                          batchK: Int): (Seq[(String, String)], DataFrame) = {
    require(batchK >= 1, "batchK must be >= 1")
    var words = words0
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("syms"), col("freq"))
      .localCheckpoint()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val want = numMerges - merges.size
      val k = math.min(batchK, want) + 1 // +1: the cutoff rank for the strict bound
      val top = words
        .select(posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1)).as(Seq("i", "a")), col("syms"), col("freq"))
        .select(col("a"), element_at(col("syms"), col("i") + 2).as("b"), col("freq"))
        .groupBy("a", "b").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        // ranked-disjoint prefix, cut strictly above the first
        // non-accepted count (unknown tail counts are <= the last
        // collected row's, so an incomplete batch bounds by that)
        val used = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopped = false
        var cutoff = if (top.length < k) Long.MinValue else top.last._3
        for ((a, b, cnt) <- top.take(math.min(batchK, want)) if !stopped) {
          if (used.contains(a) || used.contains(b)) { stopped = true; cutoff = math.max(cutoff, cnt) }
          else { prefix += ((a, b, cnt)); used += a; used += b }
        }
        val accepted = {
          val safe = prefix.head +: prefix.tail.filter(_._3 > cutoff)
          safe.take(want)
        }
        // greedy left-to-right merge of each accepted pair, applied in
        // rank order inside ONE projection over the word table
        val emptyArr = array().cast("array<string>")
        words = accepted.foldLeft(words) { case (w, (a, b, _)) =>
          w.withColumn("syms",
            aggregate(col("syms"), emptyArr, (acc, x) =>
              when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x)))))
        }
        merges ++= accepted.map { case (a, b, _) => (a, b) }
        rounds += 1
        if (rounds % 4 == 0) words = words.localCheckpoint()
      }
    }
    val vocab = words
      .select(explode(col("syms")).as("symbol"), col("freq"))
      .groupBy("symbol").agg(sum("freq").as("cnt"))
    (merges.toSeq, vocab)
  }
}
