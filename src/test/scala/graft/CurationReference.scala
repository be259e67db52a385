package graft

import graft.operators.TextAnalysis
import graft.plans.TokenKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The compositional formulations that the native token kernels
  * replaced: `qualityScore` and `chunks` as interpreted higher-order
  * functions over `split(norm, " ")`, and `curateChunks` built from
  * them with the shard taken through `shardOf`. Kept as the reference
  * the kernels must match bit for bit. */
object CurationReference {
  private def tokens(norm: Column): Column = split(norm, " ")

  def qualityScore(norm: Column): Column = {
    val toks  = tokens(norm)
    val nTok  = size(toks).cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    val stops = size(filter(toks, t => t.isInCollection(TokenKernels.DefaultStopwords))).cast("double")
    round(least(nTok / 50.0, lit(1.0)) * 0.4 + (stops / nTok) * 0.3 + (nUniq / nTok) * 0.3, 6)
  }

  def chunks(norm: Column, chunkLen: Int, overlap: Int): Column = {
    val stride = chunkLen - overlap
    val toks = tokens(norm)
    val nChunks = greatest(lit(1),
      ceil((size(toks).cast("double") - overlap) / stride).cast("int"))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * lit(stride) + 1, lit(chunkLen)), " "))
  }

  def curateChunks(docs: DataFrame, idCol: String, textCol: String,
                   minQuality: Double, chunkLen: Int, overlap: Int): DataFrame = {
    val normed = docs
      .withColumn("__norm", TextAnalysis.normalize(col(textCol)))
      .withColumn("__fp", md5(col("__norm").cast("binary")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    normed
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .where(qualityScore(col("__norm")) >= minQuality)
      .select(col(idCol), posexplode(chunks(col("__norm"), chunkLen, overlap)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("n_tokens", size(split(col("chunk"), " ")))
      .withColumn("shard", TextAnalysis.shardOf(col("chunk")))
  }
}
