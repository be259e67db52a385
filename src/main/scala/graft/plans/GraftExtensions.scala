package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point: registers the native expressions under SQL
  * names so they resolve through the normal Catalyst function registry
  * (`functions.call_function("graft_dot", …)` or SQL `graft_dot(a,b)`).
  *
  * It also installs the dialect parser and graft's plan rules:
  * resolution (dictGet), optimizer (projection use, top-k, the
  * null-filter rewrite [[NotNullOfInput]]), planning
  * ([[PartitionWiseAggregate]], which runs an aggregate grouped on
  * every partition column of a file table without a shuffle) and AQE
  * query-stage prep ([[SmallSortCoalesce]], and [[ParamLiterals]],
  * which keeps comparison constants out of generated source so a plan
  * shape compiles once for any constants).
  *
  * Activate with `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` — done by [[graft.GraftSession]],
  * `Verify` and `Bench`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** The native kernels: SQL name -> (arity, usage in the arity
    * error, builder). Registered here rather than in
    * [[ChDialect.functions]], so they stay out of `system.functions`. */
  private val kernels: Seq[(String, (Int, String, Seq[Expression] => Expression))] = Seq(
    "graft_dot" -> ((2, "exactly 2 arguments", c => DotProduct(c(0), c(1)))),
    "graft_array_eq_count" -> ((2, "exactly 2 arguments", c => ArrayEqCount(c(0), c(1)))),
    "graft_minhash_sig" -> ((3, "(text, nGram, numHashes)", c => MinHashSignature(c(0), c(1), c(2)))),
    "graft_lsh_buckets" -> ((3, "(vec, numPlanes, numTables)", c => LshBucketIds(c(0), c(1), c(2)))),
    "graft_pack_ids" -> ((2, "(tokCounts, maxTokens)", c => PackIds(c(0), c(1)))),
    "graft_bpe_encode" -> ((2, "(text, mergesTable)", c => BpeEncodeExpr(c(0), c(1)))),
    "graft_bpe_byte_pretokens" -> ((1, "(text)", c => BpeBytePretokensExpr(c(0)))),
    "graft_bpe_byte_encode" -> ((2, "(text, mergesTable)", c => BpeByteEncodeExpr(c(0), c(1)))),
    "graft_bpe_byte_decode" -> ((1, "(tokens)", c => BpeByteDecodeExpr(c(0)))),
    "graft_fill_default" -> ((1, "exactly 1 argument", c => FillDefault(c(0)))),
    "graft_pg_text_array" -> ((1, "exactly 1 argument", c => PgTextArray(c(0)))),
    "graft_nearest_cell" -> ((2, "(vec, centroids)", c => NearestCentroid(c(0), c(1)))),
    "graft_simhash64" -> ((2, "(text, nGram)", c => SimHash64(c(0), c(1)))),
    "graft_shingle_hashes" -> ((2, "(text, w)", c => ShingleHashes(c(0), c(1)))),
    "graft_token_stats" -> ((1, "(text)", c => TokenStats(c(0)))),
    "graft_chunks" -> ((3, "(text, chunkLen, overlap)", c => TokenChunks(c(0), c(1), c(2)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, (arity, usage, build)) <- kernels)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name takes $usage")
          build(children)
        }))
    ChDialect.register(ext)
    // ClickHouse parametric-aggregate spelling (quantile(0.5)(x)) —
    // flattened pre-parse, resolved through the registrations above.
    ext.injectParser((_, parser) => new ChSqlParser(parser))
    // dictGet/dictHas placeholders → broadcast left-outer joins
    ext.injectResolutionRule(session => DictGetRewrite(session))
    ext.injectOptimizerRule(session => ProjectionAutoUse(session))
    ext.injectOptimizerRule(session => SortProjectionUse(session))
    // Filter(rn<=k, Window(row_number/rank/dense_rank)) → top-k aggregate
    ext.injectOptimizerRule(session => TopKRewrite(session))
    // isnotnull(lower(trim(regexp_replace(x, …)))) → isnotnull(x), so a
    // null filter on normalized text does not normalize it a second time
    ext.injectOptimizerRule(_ => NotNullOfInput)
    // GROUP BY over every partition column of a partitioned file table:
    // whole directories per task, partial and final aggregate in one stage
    ext.injectPlannerStrategy(session => PartitionWiseAggregate(session))
    // small GROUP BY … ORDER BY: sort in the final task, no range shuffle
    ext.injectQueryStagePrepRule(session => SmallSortCoalesce(session))
    // comparison constants read from `references`, not written into the
    // generated source: one compiled class per plan shape, not per
    // statement (a generated class is cached by its source text)
    ext.injectQueryStagePrepRule(_ => ParamLiterals)
  }
}
