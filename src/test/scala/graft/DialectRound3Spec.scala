package graft

import graft.operators.{Dictionaries, Replicate, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-3 dialect surface: dictionary lookups (dictGet → broadcast
  * join rewrite), LIMIT BY / FINAL parser rewrites, moment aggregates,
  * and the training-pipeline text operators (PII scrub, chunking,
  * shard assignment). */
class DialectRound3Spec extends SparkSpec {
  import spark.implicits._

  private lazy val dicts: Unit = {
    Seq((1L, "alpha", 10.0), (2L, "beta", 20.0), (3L, "gamma", 30.0))
      .toDF("id", "name", "rate").createOrReplaceTempView("currencies_t")
    Dictionaries.register("currencies", "id", () => spark.table("currencies_t"))
    Seq((100L, 1L), (101L, 2L), (102L, 9L), (103L, 3L), (104L, 1L))
      .toDF("order_id", "cur").createOrReplaceTempView("orders_t")
  }

  test("dictGet resolves through a broadcast left join; misses are NULL") {
    dicts
    val out = spark.sql(
      """SELECT order_id, dictGet('currencies', 'name', cur) AS cname
         FROM orders_t ORDER BY order_id""").collect()
    assert(out.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("alpha"), Some("beta"), None, Some("gamma"), Some("alpha")))
  }

  test("dictGetOrDefault / dictHas; one join serves several attributes") {
    dicts
    val df = spark.sql(
      """SELECT order_id,
                dictGetOrDefault('currencies', 'name', cur, 'UNK') AS cname,
                dictGet('currencies', 'rate', cur) AS crate,
                dictHas('currencies', cur) AS hit
         FROM orders_t ORDER BY order_id""")
    val out = df.collect()
    assert(out.map(_.getString(1)).toSeq == Seq("alpha", "beta", "UNK", "gamma", "alpha"))
    assert(out.map(_.getBoolean(3)).toSeq == Seq(true, true, false, true, true))
    // same dict + same key expression → exactly ONE join in the plan
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.length == 1, s"expected one shared dict join, got ${joins.length}")
  }

  test("dictGet works inside aggregates and grouping expressions") {
    dicts
    val out = spark.sql(
      """SELECT dictGetOrDefault('currencies', 'name', cur, 'UNK') AS cname,
                count(*) AS n, sum(dictGet('currencies', 'rate', cur)) AS s
         FROM orders_t GROUP BY 1 ORDER BY cname""").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("UNK", 1L), ("alpha", 2L), ("beta", 1L), ("gamma", 1L)))
    assert(out.find(_.getString(0) == "alpha").get.getDouble(2) == 20.0)
  }

  test("dictGet in WHERE and ORDER BY (Filter/Sort rewrite paths)") {
    dicts
    // Filter: the restoring Project must hide the joined dict columns
    val filtered = spark.sql(
      """SELECT order_id FROM orders_t
         WHERE dictGet('currencies', 'rate', cur) > 15.0
         ORDER BY order_id""")
    assert(filtered.columns.toSeq == Seq("order_id"))
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(101L, 103L))
    // Sort: order by a dictionary attribute not in the select list
    val sorted = spark.sql(
      """SELECT order_id, cur FROM orders_t
         WHERE dictHas('currencies', cur)
         ORDER BY dictGet('currencies', 'name', cur), order_id""").collect()
    assert(sorted.map(_.getLong(0)).toSeq == Seq(100L, 104L, 101L, 103L))
  }

  test("LIMIT n BY rewrites to a per-group row_number window") {
    Seq(("a", 1, 9.0), ("a", 2, 8.0), ("a", 3, 7.0), ("b", 4, 6.0), ("b", 5, 5.0))
      .toDF("g", "id", "v").createOrReplaceTempView("lb_t")
    val out = spark.sql(
      """SELECT g, id, v FROM lb_t ORDER BY g, v DESC, id LIMIT 2 BY g""").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 4, 5))
    // trailing total LIMIT applies after the per-group cut
    val capped = spark.sql(
      """SELECT g, id, v FROM lb_t ORDER BY g, v DESC, id LIMIT 2 BY g LIMIT 3""").collect()
    assert(capped.map(_.getInt(1)).toSeq == Seq(1, 2, 4))
    // plain LIMIT (no BY) is untouched by the rewriter
    assert(graft.plans.ChSqlParser.rewriteParametric("SELECT * FROM t ORDER BY x LIMIT 5")
      == "SELECT * FROM t ORDER BY x LIMIT 5")
  }

  test("FROM t FINAL reads the registered latest-per-key view") {
    val df = Seq((1L, 1L, "old"), (1L, 2L, "new"), (2L, 1L, "only"))
      .toDF("k", "ver", "payload")
    Replicate.registerWithFinal(df, "fin_t", Seq("k"), Seq(col("ver")))
    val out = spark.sql("SELECT k, payload FROM fin_t FINAL ORDER BY k").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("new", "only"))
    // without FINAL the raw versioned rows are visible
    assert(spark.sql("SELECT count(*) FROM fin_t").head().getLong(0) == 3L)
  }

  test("skewPop/kurtPop match population moments computed directly") {
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 7.0, 11.0)
    xs.toDF("x").createOrReplaceTempView("mom_t")
    val n = xs.length.toDouble
    val mu = xs.sum / n
    val m2 = xs.map(x => math.pow(x - mu, 2)).sum / n
    val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
    val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
    val r = spark.sql("SELECT skewPop(x), kurtPop(x) FROM mom_t").head()
    assert(math.abs(r.getDouble(0) - m3 / math.pow(m2, 1.5)) < 1e-9)
    assert(math.abs(r.getDouble(1) - m4 / (m2 * m2)) < 1e-9)
  }

  test("URL family: CH ''-for-absent semantics") {
    val r = spark.sql(
      """SELECT domain(u), path(u), queryString(u), extractURLParameter(u, 'k'),
                extractURLParameter(u, 'missing'), cutQueryString(u), topLevelDomain(u)
         FROM (SELECT 'https://a.example.org/x/y?k=1&j=2' AS u)""").head()
    assert(r.getString(0) == "a.example.org")
    assert(r.getString(1) == "/x/y")
    assert(r.getString(2) == "k=1&j=2")
    assert(r.getString(3) == "1")
    assert(r.getString(4) == "")
    assert(r.getString(5) == "https://a.example.org/x/y")
    assert(r.getString(6) == "org")
  }

  test("IPv4 num<->string round-trips") {
    val r = spark.sql(
      """SELECT IPv4NumToString(3232235777), IPv4StringToNum('192.168.1.1')""").head()
    assert(r.getString(0) == "192.168.1.1")
    assert(r.getLong(1) == 3232235777L)
  }

  test("sumArray/avgArray fold elements without exploding; quantileTDigest parses") {
    Seq((1L, Seq(1.0, 2.0)), (1L, Seq(3.0)), (2L, Seq(10.0, 20.0, 30.0)))
      .toDF("g", "xs").createOrReplaceTempView("arr_t")
    val out = spark.sql(
      """SELECT g, sumArray(xs) AS s, avgArray(xs) AS a FROM arr_t
         GROUP BY g ORDER BY g""").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(6.0, 60.0))
    assert(out.map(_.getDouble(2)).toSeq == Seq(2.0, 20.0))
    // t-digest parametric spelling parses and is exact when the group
    // fits one sketch (odd count → no rank-convention ambiguity)
    val med = spark.sql(
      "SELECT quantileTDigest(0.5)(x) FROM (SELECT explode(array(1.0d, 5.0d, 9.0d)) AS x)")
      .head().getDouble(0)
    assert(med == 5.0)
  }

  test("positional array transforms handle empty and single-element arrays") {
    val r = spark.sql(
      """SELECT arrayCumSum(array(1.5d, 2.5d, -1.0d)) AS c,
                arrayDifference(array(3.0d, 5.0d, 4.5d)) AS d,
                arrayEnumerate(array('a', 'b')) AS e,
                arrayCumSum(array()) AS c0,
                arrayDifference(cast(array() AS ARRAY<DOUBLE>)) AS d0,
                arrayEnumerate(array()) AS e0,
                arrayCumSum(array(7.0d)) AS c1""").head()
    assert(r.getSeq[Double](0) == Seq(1.5, 4.0, 3.0))
    assert(r.getSeq[Double](1) == Seq(0.0, 2.0, -0.5))
    assert(r.getSeq[Int](2) == Seq(1, 2))
    assert(r.getSeq[Double](3).isEmpty)
    assert(r.getSeq[Double](4).isEmpty)
    assert(r.getSeq[Int](5).isEmpty)
    assert(r.getSeq[Double](6) == Seq(7.0))
  }

  test("uniqUpTo saturates at N+1") {
    Seq(1, 2, 3, 4, 5, 5).toDF("v").createOrReplaceTempView("uut_t")
    val r = spark.sql("SELECT uniqUpTo(3)(v), uniqUpTo(10)(v) FROM uut_t").head()
    assert(r.getLong(0) == 4L) // 5 distinct, saturates at 3+1
    assert(r.getLong(1) == 5L) // under the cap → exact
  }

  test("tuple/arrayZip/arrayJaccardIndex/assumeNotNull/formatReadableSize") {
    val r = spark.sql(
      """SELECT tupleElement(tuple('a', 42), 2) AS te,
                tupleElement(named_struct('x', 7, 'y', 8), 'y') AS tn,
                arrayZip(array(1, 2), array('a', 'b')) AS az,
                round(arrayJaccardIndex(array(1, 2, 3), array(2, 3, 4)), 4) AS aj,
                assumeNotNull(1 + 1) AS ann,
                formatReadableSize(1536) AS f1,
                formatReadableSize(1048576) AS f2,
                formatReadableSize(500) AS f3""").head()
    assert(r.getInt(0) == 42)
    assert(r.getInt(1) == 8)
    assert(r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getInt(0), x.getString(1)))
      == Seq((1, "a"), (2, "b")))
    assert(r.getDouble(3) == 0.5)
    assert(r.getInt(4) == 2)
    assert(r.getString(5) == "1.50 KiB")
    assert(r.getString(6) == "1.00 MiB")
    assert(r.getString(7) == "500.00 B")
  }

  test("-State/-Merge combinators: two-level rollup equals direct aggregation") {
    Seq.tabulate(500)(i => (i % 7, i % 40, i.toDouble))
      .toDF("g", "u", "v").createOrReplaceTempView("sm_t")
    val merged = spark.sql(
      """WITH st AS (SELECT g, u % 4 AS sub, countState() AS c, sumState(v) AS s,
                            minState(v) AS mn, avgState(v) AS a, uniqState(u) AS uq
                     FROM sm_t GROUP BY g, u % 4)
         SELECT g, countMerge(c) AS cnt, sumMerge(s) AS total,
                minMerge(mn) AS mn, round(avgMerge(a), 6) AS mean,
                CAST(uniqMerge(uq) AS BIGINT) AS uniq
         FROM st GROUP BY g ORDER BY g""").collect()
    val direct = spark.sql(
      """SELECT g, count(*) AS cnt, sum(v) AS total, min(v) AS mn,
                round(avg(v), 6) AS mean, count(DISTINCT u) AS uniq
         FROM sm_t GROUP BY g ORDER BY g""").collect()
    merged.zip(direct).foreach { case (m, d) =>
      assert(m.getLong(1) == d.getLong(1))
      assert(math.abs(m.getDouble(2) - d.getDouble(2)) < 1e-6)
      assert(m.getDouble(3) == d.getDouble(3))
      assert(m.getDouble(4) == d.getDouble(4))
      // 40 distinct values — well inside HLL-sketch exactness
      assert(m.getLong(5) == d.getLong(5))
    }
  }

  test("uniqMerge of a foreign (non-engine) binary state fails loudly, not silently") {
    // SURVEY §2 q35b descope: CH's on-the-wire uniq state is not
    // implemented; merging a blob this engine didn't write must be a
    // loud deserialization error, never a silent wrong estimate
    Seq(Tuple1(Array[Byte](0x13, 0x37, 0x42, 0x66, 0x01, 0x02, 0x03, 0x04)))
      .toDF("uq").createOrReplaceTempView("foreign_state_t")
    val e = intercept[Exception](
      spark.sql("SELECT uniqMerge(uq) FROM foreign_state_t").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).nonEmpty) // surfaced as an execution error with a message
  }

  test("rematerializeMv: replaying the defining SELECT makes an imported MV mergeable") {
    // the q35b migration guidance as ONE call: an MV imported from a
    // live ClickHouse carries foreign binary uniq states that this
    // engine cannot merge; rematerializeMv replays the MV's defining
    // SELECT against the imported RAW table and overwrites the target,
    // after which every state is engine-written and merges exactly
    spark.sql("DROP TABLE IF EXISTS remat_raw")
    spark.sql("DROP TABLE IF EXISTS remat_mv")
    spark.sql("CREATE TABLE remat_raw (g UInt64, u UInt64, v Float64) ENGINE = MergeTree ORDER BY g")
    Seq.tabulate(600)(i => (i % 5, i % 37, i.toDouble))
      .toDF("g", "u", "v").createOrReplaceTempView("remat_src")
    spark.sql("INSERT INTO remat_raw SELECT g, u, v FROM remat_src")
    // simulate the import: plain states migrate as data, the uniq blob
    // is a FOREIGN binary this engine didn't write
    spark.sql("""SELECT g, sum(v) AS sum_st, unhex('FEEDFACE') AS uq_st
                 FROM remat_raw GROUP BY g""")
      .write.mode("overwrite").saveAsTable("remat_mv")
    // column order deliberately differs from the target (CH TO-table
    // MVs map by NAME): rematerializeMv must reorder, not write by
    // position
    val mvSelect =
      """SELECT sumState(v) AS sum_st, uniqState(u) AS uq_st, g
         FROM remat_raw GROUP BY g"""
    // the foreign state fails loudly on merge (the descope contract)
    intercept[Exception](
      spark.sql("SELECT g, uniqMerge(uq_st) FROM remat_mv GROUP BY g").collect())
    graft.operators.Replicate.rematerializeMv(spark, "remat_mv", mvSelect)
    val got = spark.sql(
      """SELECT g, round(sumMerge(sum_st), 2) AS total,
                CAST(uniqMerge(uq_st) AS BIGINT) AS uniq
         FROM remat_mv GROUP BY g ORDER BY g""").collect()
    val want = spark.sql(
      """SELECT g, round(sum(v), 2) AS total, count(DISTINCT u) AS uniq
         FROM remat_raw GROUP BY g ORDER BY g""").collect()
    assert(got.length == want.length && got.length == 5)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getDouble(1) == b.getDouble(1))
      assert(a.getLong(2) == b.getLong(2)) // 37 distinct — HLL exact range
    }
    spark.sql("DROP TABLE remat_raw"); spark.sql("DROP TABLE remat_mv")
  }

  test("anyIf takes the first matching row's value, ignoring non-matches") {
    Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v").createOrReplaceTempView("any_t")
    val r = spark.sql("SELECT anyIf(v, k = 'b'), anyLastIf(v, k = 'a') FROM any_t").head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 3)
  }

  test("piiScrub redacts emails, IPs and phones but not plain text") {
    val out = Seq(
      "mail me at jo.doe+x@corp.example.com ok",
      "server 10.1.2.3 is up",
      "call +1 555 0100 1234 now",
      "no pii here 42")
      .toDF("t").select(TextAnalysis.piiScrub($"t").as("s")).as[String].collect()
    assert(out(0) == "mail me at <EMAIL> ok")
    assert(out(1) == "server <IP> is up")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "no pii here 42")
  }

  test("chunks covers every token; overlap and tail semantics") {
    val df = Seq("a b c d e f g h i j").toDF("t")
    val out = df.select(TextAnalysis.chunks($"t", chunkLen = 4, overlap = 1).as("c"))
      .head().getSeq[String](0)
    // stride 3: [a..d], [d..g], [g..j] — 10 tokens fully covered, and
    // no trailing chunk that would only repeat overlap tokens
    assert(out == Seq("a b c d", "d e f g", "g h i j"))
    // short doc → one chunk, never empty
    val short = Seq("x y").toDF("t")
      .select(TextAnalysis.chunks($"t", 4, 1).as("c")).head().getSeq[String](0)
    assert(short == Seq("x y"))
    // n <= overlap, n = chunkLen, and raw text: tokens are the fields
    // of split(t, " "), so doubled/leading/trailing spaces give empty
    // tokens and a tab is part of a token; multibyte text cuts cleanly
    def chunksOf(t: String, len: Int, overlap: Int): Seq[String] =
      Seq(t).toDF("t").select(TextAnalysis.chunks($"t", len, overlap)).head().getSeq[String](0)
    assert(chunksOf("x", 4, 1) == Seq("x"))
    assert(chunksOf("x y", 8, 7) == Seq("x y"))
    assert(chunksOf("a b c d", 4, 1) == Seq("a b c d"))
    assert(chunksOf("", 2, 0) == Seq(""))
    assert(chunksOf(" a\tb  c ", 2, 0) == Seq(" a\tb", " c", ""))
    assert(chunksOf("é 日本 🚀 x ü", 4, 1) == Seq("é 日本 🚀 x", "x ü"))
    val nullDoc = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.chunks($"t", 4, 1)).head().getSeq[String](0)
    assert(nullDoc == Seq(null))
  }

  test("string/math/array long tail and numbers() table function") {
    val r = spark.sql(
      """SELECT splitByString('--', 'a--b--c')[1] AS s1,
                trimBoth('  x  ') AS t1,
                substringUTF8('abcdef', 2, 3) AS sub,
                reverseUTF8('abc') AS rev,
                bitCount(7) AS bc,
                roundBankers(2.5d) AS rb1, roundBankers(3.5d) AS rb2,
                arrayIntersect(array(1, 2, 3), array(2, 3, 4)) AS ai,
                arrayFlatten(array(array(1, 2), array(3))) AS af,
                concatWithSeparator('-', 'a', 'b') AS cws
         FROM (SELECT 1)""").head()
    assert(r.getString(0) == "b")
    assert(r.getString(1) == "x")
    assert(r.getString(2) == "bcd")
    assert(r.getString(3) == "cba")
    assert(r.getInt(4) == 3)
    assert(r.getDouble(5) == 2.0 && r.getDouble(6) == 4.0) // half-to-even
    assert(r.getSeq[Int](7) == Seq(2, 3))
    assert(r.getSeq[Int](8) == Seq(1, 2, 3))
    assert(r.getString(9) == "a-b")
    // numbers(N) → range with CH's column name
    val n = spark.sql("SELECT sum(number) AS s FROM numbers(10)").head().getLong(0)
    assert(n == 45L)
    // hash family: deterministic, engine-internal (documented caveat)
    val h = spark.sql(
      "SELECT cityHash64('x') = cityHash64('x'), cityHash64('x') = sipHash64('x')").head()
    assert(h.getBoolean(0) && !h.getBoolean(1))
  }

  test("Joins.anyInner keeps exactly one deterministic right row per key") {
    val left = Seq((1, "l1"), (2, "l2"), (3, "l3")).toDF("k", "lv")
    val right = Seq((1, 5, "r15"), (1, 2, "r12"), (2, 9, "r29")).toDF("k", "ord", "rv")
    val out = graft.operators.Joins.anyInner(left, right, Seq("k"), col("ord"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getString(3))).toSeq ==
      Seq((1, "r12"), (2, "r29"))) // min ord wins; k=3 dropped
    val outer = graft.operators.Joins.anyLeft(left, right, Seq("k"), col("ord"))
    assert(outer.count() == 3) // every left row survives
  }

  test("sequenceCount counts greedy non-overlapping matches") {
    def ev(min: Int, t: String) =
      (new java.sql.Timestamp(java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
        + min.toLong * 60000), t)
    // stream: A B B A B  → '(?1).*(?2)' matches (A1,B2), (A4,B5) = 2
    Seq(ev(1, "A"), ev(2, "B"), ev(3, "B"), ev(4, "A"), ev(5, "B"))
      .toDF("ts", "t").createOrReplaceTempView("sc_t")
    val r = spark.sql(
      """SELECT sequenceCount('(?1).*(?2)')(ts, t = 'A', t = 'B') AS gap,
                sequenceCount('(?1)(?2)')(ts, t = 'A', t = 'B') AS adj,
                sequenceCount('(?1)')(ts, t = 'B') AS singles,
                sequenceCount('(?1).*(?2)')(ts, t = 'X', t = 'B') AS none
         FROM sc_t""").head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 2L) // adjacent pairs: (A1,B2), (A4,B5)
    assert(r.getLong(2) == 3L) // every B alone
    assert(r.getLong(3) == 0L)
    // consistency: count > 0 ⟺ sequenceMatch true
    val both = spark.sql(
      """SELECT sequenceMatch('(?1).*(?2)')(ts, t = 'A', t = 'B') AS m,
                sequenceCount('(?1).*(?2)')(ts, t = 'A', t = 'B') AS c
         FROM sc_t""").head()
    assert(both.getBoolean(0) == (both.getLong(1) > 0))
  }

  test("curateChunks: dedup keeps min id, quality filters, chunks cover, shards stable") {
    val good = ("the quick brown fox jumps over a lazy dog and then " * 3).trim
    val docs = Seq(
      (1L, good),              // survives
      (5L, good),              // exact dup of 1 → dropped
      (2L, "a a a a a a a a"), // degenerate TTR → low quality
      (3L, good + " extra words here make it a different document entirely ok"),
      (4L, null),              // no text → no score → filtered
      (6L, "  The  café\tserves 日本語 tea and 🚀 cake to a crowd of the regulars  "),
      (7L, "THE CAFÉ\tserves 日本語   tea and 🚀 cake to a crowd of the regulars"))
      .toDF("doc_id", "text")
    // quality scores: good ≈ 0.446, degenerate ≈ 0.4015 → 0.42 separates
    val out = TextAnalysis.curateChunks(docs, "doc_id", "text",
      minQuality = 0.42, chunkLen = 8, overlap = 2)
    // the kernels and the higher-order-function pipeline agree row for row
    val cols = Seq("doc_id", "chunk_idx", "chunk", "n_tokens", "shard")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("doc_id", "chunk_idx").collect().toSeq
    assert(rows(out) == rows(CurationReference.curateChunks(docs, "doc_id", "text", 0.42, 8, 2)))
    // plan guard: no interpreted lambda anywhere, and the shard hashes
    // the chunk as is (no re-normalizing regexp_replace over it)
    val plan = out.queryExecution.executedPlan
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exprs = aqe.flatMap(plan)(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.LambdaFunction])), plan.toString)
    val chunkAttrs = aqe.collect(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g.generatorOutput
    }.flatten.filter(_.dataType == org.apache.spark.sql.types.StringType)
    assert(chunkAttrs.nonEmpty, plan.toString)
    assert(!exprs.exists(_.exists {
      case r: org.apache.spark.sql.catalyst.expressions.RegExpReplace =>
        r.references.exists(a => chunkAttrs.exists(_.exprId == a.exprId))
      case _ => false
    }), plan.toString)
    val byDoc = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.contains(1L) && !byDoc.contains(5L), "min-id dedup winner")
    assert(!byDoc.contains(2L), "low-quality doc filtered")
    assert(byDoc.contains(3L) && !byDoc.contains(4L))
    assert(byDoc.contains(6L) && !byDoc.contains(7L), "dedup after normalization")
    // chunks reassemble the doc: stride tokens from each + full tail
    val chunks1 = out.where($"doc_id" === 1).orderBy("chunk_idx")
      .select("chunk").as[String].collect()
    val reassembled = (chunks1.init.map(_.split(" ").take(6).mkString(" ")) :+ chunks1.last)
      .mkString(" ")
    assert(reassembled == good.toLowerCase)
    // identical chunk text → identical shard, always in range, and the
    // shard of a chunk is shardOf(chunk)
    val shards = out.select("shard").as[Int].collect()
    assert(shards.forall(s => s >= 0 && s < 16))
    assert(out.where(!$"shard".eqNullSafe(TextAnalysis.shardOf($"chunk"))).isEmpty)
  }

  test("shardOf is deterministic and in [0, 16)") {
    val shards = Seq("alpha", "beta", "Alpha  ", "gamma")
      .toDF("t").select(TextAnalysis.shardOf($"t").as("s")).as[Int].collect()
    assert(shards.forall(s => s >= 0 && s < 16))
    // normalization folds case/whitespace → same shard for same content
    assert(shards(0) == shards(2))
  }
}
