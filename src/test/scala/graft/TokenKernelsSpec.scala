package graft

import graft.operators.TextAnalysis
import graft.plans.TokenKernels
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `graft_token_stats` / `graft_chunks` against the higher-order-function
  * formulations they replaced ([[CurationReference]]): same values bit
  * for bit, on edge inputs and on seeded random token soup, through
  * both the interpreted and the codegen'd evaluation paths. */
class TokenKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val grid = Seq((2, 0), (4, 1), (8, 2), (8, 7))

  private val edgeInputs: Seq[String] = Seq(
    null,
    "",
    "word",                                         // one token
    "x y",                                          // n <= overlap for (8,2), (8,7)
    "a b", "a b c d",                               // n = chunkLen for (2,0), (4,1)
    "one two three four five six seven eight",     // n = chunkLen for (8,*)
    "  the\tcat  sat on\tthe mat ", "\tleading tab", "trailing spaces   ",
    " ", "   ", "a  b", " a", "a ",                  // doubled, leading, trailing
    "café naïve résumé é é", "日本語 中文 한국어 テキスト 日本語",
    "emoji 🚀 🔥🔥 👍🏽 done 🚀", "é  日本\t🚀 x é é ",   // multibyte, mixed with raw spaces
    ("the quick brown fox jumps over a lazy dog and it is in the " * 6).trim)

  /** Seeded token soup: stopwords, repeats, multibyte tokens, empty
    * tokens from doubled spaces, tabs inside tokens. */
  private val randomInputs: Seq[String] = {
    val rnd = new scala.util.Random(20261017L)
    val vocab = Array("the", "a", "and", "of", "to", "is", "in", "it", "fox", "The",
      "é", "日本", "🚀", "x\ty", "", "thé", "ａ", "of,", "ITS")
    Seq.fill(200) {
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
  }

  private val inputs = edgeInputs ++ randomInputs

  /** Runs `body` with Seq-backed projections folded into the local
    * relation (interpreted eval), then with that fold excluded so they
    * run in whole-stage codegen. */
  private def bothPaths(body: String => Unit): Unit = {
    body("interpreted")
    val key = "spark.sql.optimizer.excludedRules"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try body("codegen") finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def bytesOf(chunks: Row, i: Int): Seq[Option[Seq[Byte]]] =
    chunks.getSeq[String](i).map(c => Option(c).map(_.getBytes("UTF-8").toSeq))

  test("graft_chunks matches the higher-order-function chunks bit for bit") {
    val df = inputs.toDF("t")
    bothPaths { path =>
      for ((len, overlap) <- grid) {
        val rows = df.select($"t",
          TextAnalysis.chunks($"t", len, overlap),
          CurationReference.chunks($"t", len, overlap)).collect()
        assert(rows.length == inputs.length)
        rows.foreach { r =>
          assert(bytesOf(r, 1) == bytesOf(r, 2),
            s"$path ($len,$overlap) on ${Option(r.getString(0)).map(s => s"'$s'")}")
        }
      }
    }
    // joining each chunk's first `stride` tokens (and the whole last
    // chunk) gives the input back, whitespace runs included
    val raw = "  a\tb  c d  é 日本 🚀  "
    val out = Seq(raw).toDF("t").select(TextAnalysis.chunks($"t", 4, 1)).head().getSeq[String](0)
    assert((out.init.map(_.split(" ", -1).take(3).mkString(" ")) :+ out.last).mkString(" ") == raw)
  }

  test("graft_token_stats and qualityScore match the reference bit for bit") {
    val df = inputs.toDF("t")
    val toks = split($"t", " ")
    bothPaths { path =>
      val rows = df.select($"t",
        call_function("graft_token_stats", $"t").as("s"),
        size(toks), size(array_distinct(toks)),
        size(filter(toks, t => t.isInCollection(TokenKernels.DefaultStopwords))),
        TextAnalysis.qualityScore($"t"), CurationReference.qualityScore($"t")).collect()
      rows.foreach { r =>
        val at = s"$path on ${Option(r.getString(0)).map(s => s"'$s'")}"
        if (r.isNullAt(0)) assert(r.isNullAt(1) && r.isNullAt(5) && r.isNullAt(6), at)
        else {
          val s = r.getStruct(1)
          assert((s.getInt(0), s.getInt(1), s.getInt(2)) == (r.getInt(2), r.getInt(3), r.getInt(4)), at)
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(5)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(6)), at)
        }
      }
    }
  }

  test("graft_chunks rejects windows it cannot cut, at analysis") {
    Seq("a b").toDF("t").createOrReplaceTempView("tk_t")
    assert(spark.sql("SELECT graft_chunks(t, 2, 1) FROM tk_t").head().getSeq[String](0) == Seq("a b"))
    for (bad <- Seq("graft_chunks(t, 2, 2)", "graft_chunks(t, 2, -1)", "graft_chunks(t, length(t), 1)")) {
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $bad FROM tk_t").collect())
    }
    intercept[IllegalArgumentException](TextAnalysis.chunks($"t", 4, 4))
  }
}
