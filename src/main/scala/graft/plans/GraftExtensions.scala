package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point: registers the native expressions under SQL
  * names so they resolve through the normal Catalyst function registry
  * (`functions.call_function("graft_dot", …)` or SQL `graft_dot(a,b)`).
  *
  * Activate with `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` — done by [[graft.GraftSession]],
  * `Verify` and `Bench`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_array_eq_count"),
      new ExpressionInfo(classOf[ArrayEqCount].getName, "graft_array_eq_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_array_eq_count takes exactly 2 arguments")
        ArrayEqCount(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_minhash_sig takes (text, nGram, numHashes)")
        MinHashSignature(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBucketIds].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_lsh_buckets takes (vec, numPlanes, numTables)")
        LshBucketIds(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pack_ids"),
      new ExpressionInfo(classOf[PackIds].getName, "graft_pack_ids"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_pack_ids takes (tokCounts, maxTokens)")
        PackIds(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpr].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_bpe_encode takes (text, mergesTable)")
        BpeEncodeExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_byte_pretokens"),
      new ExpressionInfo(classOf[BpeBytePretokensExpr].getName, "graft_bpe_byte_pretokens"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_bpe_byte_pretokens takes (text)")
        BpeBytePretokensExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_byte_encode"),
      new ExpressionInfo(classOf[BpeByteEncodeExpr].getName, "graft_bpe_byte_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_bpe_byte_encode takes (text, mergesTable)")
        BpeByteEncodeExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_byte_decode"),
      new ExpressionInfo(classOf[BpeByteDecodeExpr].getName, "graft_bpe_byte_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_bpe_byte_decode takes (tokens)")
        BpeByteDecodeExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_fill_default"),
      new ExpressionInfo(classOf[FillDefault].getName, "graft_fill_default"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_fill_default takes exactly 1 argument")
        FillDefault(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pg_text_array"),
      new ExpressionInfo(classOf[PgTextArray].getName, "graft_pg_text_array"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_pg_text_array takes exactly 1 argument")
        PgTextArray(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_cell"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_cell"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_nearest_cell takes (vec, centroids)")
        NearestCentroid(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_simhash64 takes (text, nGram)")
        SimHash64(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingle_hashes takes (text, w)")
        ShingleHashes(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_token_stats"),
      new ExpressionInfo(classOf[TokenStats].getName, "graft_token_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_token_stats takes (text)")
        TokenStats(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(classOf[TokenChunks].getName, "graft_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_chunks takes (text, chunkLen, overlap)")
        TokenChunks(children.head, children(1), children(2))
      }))
    ChDialect.register(ext)
    // ClickHouse parametric-aggregate spelling (quantile(0.5)(x)) —
    // flattened pre-parse, resolved through the registrations above.
    ext.injectParser((_, parser) => new ChSqlParser(parser))
    // dictGet/dictHas placeholders → broadcast left-outer joins
    ext.injectResolutionRule(session => DictGetRewrite(session))
    ext.injectOptimizerRule(session => ProjectionAutoUse(session))
    ext.injectOptimizerRule(session => SortProjectionUse(session))
    // Filter(rn<=k, Window(row_number)) → bounded-heap top-k aggregate
    ext.injectOptimizerRule(session => TopKRewrite(session))
  }
}
