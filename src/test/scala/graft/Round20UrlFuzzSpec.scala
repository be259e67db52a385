package graft

import org.apache.spark.sql.catalyst.expressions.Literal

/** Differential fuzz net for the round-20 one-pass
  * [[graft.plans.UrlHierarchy]] kernel: the retired expression-forest
  * formulation (UrlHierarchyReference — kept as the reference)
  * and the new kernel must agree on EVERY input before the rewrite is
  * trusted, per the round-19 verdict's "build the semantics fuzz net
  * first" instruction. Shapes covered: the doc examples, separator
  * runs, `#` authority cuts, userinfo/port, bare hosts, scheme-less
  * strings, exotic `a@b://c`, multibyte text around separators,
  * empties, and 500 seeded generated URL-ish strings.
  */
class Round20UrlFuzzSpec extends SparkSpec {

  private def both(s: String, pathOnly: Boolean): (Seq[String], Seq[String]) = {
    val input = spark.range(1).toDF()
    def run(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] = {
      val col = org.apache.spark.sql.GraftTestColumns.column(e)
      val r = input.select(col.as("v")).head()
      if (r.isNullAt(0)) null else r.getSeq[String](0)
    }
    val lit = Literal.create(s, org.apache.spark.sql.types.StringType)
    (run(graft.plans.UrlHierarchy(lit, pathOnly)),
      run(UrlHierarchyReference.urlHierarchyExpr(lit, pathOnly)))
  }

  private def check(s: String): Unit = {
    val (nf, of) = both(s, pathOnly = false)
    assert(nf == of, s"URLHierarchy mismatch on '${s.take(120)}': $nf vs $of")
    val (np, op) = both(s, pathOnly = true)
    assert(np == op, s"URLPathHierarchy mismatch on '${s.take(120)}': $np vs $op")
  }

  test("URL hierarchy kernel: curated exotic shapes match the reference expression") {
    Seq(
      "https://example.com/browse/CONV-6788",
      "https://ex.com/a/b?uid=5#f",
      "https://ex.com/a/",
      "https://ex.com",
      "https://ex.com///a//b??c",
      "http://user:pw@ex.org:8080/p/q/r",
      "https://www.ex1.com.tr/a/b?uid=7&k=3#frag",
      "https://sub.ex2.io/?a=1&b=2",
      "a@b://c",
      "no-scheme/just/a/path",
      "://",
      "://x",
      "https://",
      "?leading-question",
      "#only-fragment",
      "/",
      "//",
      "/?",
      "?/",
      "",
      "héllo://wörld/päth/änd?qüery#fräg",
      "https://例え.jp/パス/階層?ク=1",
      "trailing-sep/",
      "x#y/z?w",   // '#' cuts the authority; later /? still end levels
      "https://e.com/a#b/c", // '#' inside the tail is never a level end
    ).foreach(check)
  }

  test("URL hierarchy kernel: 500 seeded URL-ish strings match the reference expression") {
    val pieces = Array("a", "bb", "ccc", "www", "ex.com", "例", "ü", "x.y",
      "user:pw@h", ":8080", "uid=5", "k=v&j=w", "frag", "", " ")
    val seps = Array("/", "?", "#", "://", "//", "??", "/?", "")
    val rnd = new scala.util.Random(20)
    (1 to 500).foreach { _ =>
      val n = rnd.nextInt(9)
      val s = (1 to n).map { _ =>
        pieces(rnd.nextInt(pieces.length)) + seps(rnd.nextInt(seps.length))
      }.mkString
      check(s)
    }
  }
}
