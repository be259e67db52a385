package graft.plans

/** The dialect front end's one lexer: it finds the four kinds of
  * token whose contents are not code.
  *
  *   - `'…'` strings — `''` and `\'` both escape a quote, and `''`
  *     alone is the empty literal
  *   - `"…"` and `` `…` `` quoted names — a doubled quote or a
  *     backslash escapes inside `"…"`, only a doubled backtick inside
  *     backticks, as in Spark's grammar
  *   - `--` line comments, to the end of the line
  *   - `/* … */` block comments, nested as Spark nests them
  *
  * An unterminated token runs to the end of the text. The rewrite
  * passes of [[ChSqlParser]] see [[mask]]'s text, where each token
  * body is a placeholder, and every question about paren structure —
  * a matching paren, a top-level comma or keyword, a query block and
  * its clauses — is answered by [[tree]], one scan of [[blank]]'s
  * same-length copy.
  */
private[plans] object ChLexer {

  /** Calls `body(start, end)` for each token body, in text order —
    * the delimiters (quotes, `--`, `/*`, `*/`) lie outside the range.
    * The one scanner of quoted text and comments. */
  private def scan(s: String)(body: (Int, Int) => Unit): Unit = {
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        var end = -1
        while (j < n && end < 0) {
          val d = s.charAt(j)
          if (d == '\\' && c != '`') j += 2
          else if (d != c) j += 1
          else if (j + 1 < n && s.charAt(j + 1) == c) j += 2
          else end = j
        }
        if (end < 0) { body(i + 1, n); i = n }
        else { body(i + 1, end); i = end + 1 }
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        var j = i + 2
        while (j < n && s.charAt(j) != '\n' && s.charAt(j) != '\r') j += 1
        body(i + 2, j); i = j
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else j += 1
        }
        if (depth > 0) { body(i + 2, n); i = n }
        else { body(i + 2, j - 2); i = j }
      } else i += 1
    }
  }

  // A placeholder is Mark followed by its table index in decimal,
  // each digit shifted into the private-use block: no ASCII at all, so
  // no pattern over code — \w, \d, quotes, parens, commas, braces,
  // brackets, dots, whitespace — can match inside one.
  private final val Mark = '\uE000'
  private final val Digit0 = '\uE010'

  private def placeholder(k: Int): String =
    Mark +: k.toString.map(d => (Digit0 + (d - '0')).toChar)

  /** `s` with every token body replaced by its placeholder. */
  def mask(s: String): Masked = {
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    scan(s) { (a, b) =>
      if (b > a) {
        sb.append(s, last, a).append(placeholder(bodies.length))
        bodies += s.substring(a, b)
        last = b
      }
    }
    new Masked(sb.append(s, last, s.length).toString, bodies)
  }

  /** `s` at its own length with every token body's characters replaced
    * by Mark: positions found in it are positions in `s`. */
  def blank(s: String): String = {
    val cs = s.toCharArray
    scan(s)((a, b) => java.util.Arrays.fill(cs, a, b, Mark))
    new String(cs)
  }

  /** Dialect text whose token bodies are held aside. */
  final class Masked private[ChLexer] (
      val text: String, bodies: scala.collection.mutable.ArrayBuffer[String]) {

    /** A placeholder for `body`, for a pass that emits a value between
      * delimiters — later passes then cannot read into it. */
    def hold(body: String): String = { bodies += body; placeholder(bodies.length - 1) }

    /** The original body behind a placeholder; any other text as is.
      * How passes read a literal's value. */
    def body(s: String): String = {
      val k = indexOf(s, 0, s.length)
      if (k < 0) s else bodies(k)
    }

    /** `s` with every token body that is a placeholder restored byte
      * for byte. Placeholders are found by lexing `s`, so a restored
      * body is never read again. */
    def unmask(s: String): String =
      if (s.indexOf(Mark) < 0) s
      else {
        val sb = new java.lang.StringBuilder(s.length + 64)
        var last = 0
        scan(s) { (a, b) =>
          val k = indexOf(s, a, b)
          if (k >= 0) { sb.append(s, last, a).append(bodies(k)); last = b }
        }
        sb.append(s, last, s.length).toString
      }

    private def indexOf(s: String, a: Int, b: Int): Int = {
      if (b - a < 2 || b - a > 10 || s.charAt(a) != Mark) return -1
      var k = 0
      var i = a + 1
      while (i < b) {
        val d = s.charAt(i) - Digit0
        if (d < 0 || d > 9) return -1
        k = k * 10 + d
        i += 1
      }
      if (k < bodies.length) k else -1
    }
  }

  /** A clause keyword at one paren level: its canonical spelling
    * (`ORDER BY`, `WITH TIES`, …), where it starts, and where the
    * clause body after it starts. */
  final case class Clause(kw: String, start: Int, bodyStart: Int)

  /** One query block: from its head — the first SELECT at its paren
    * level, or the paren that opens the level's leading parenthesized
    * query term — to the end of the enclosing parens (`enclosed`) or
    * of the statement, trailing blanks and a statement's `;` excluded.
    * A CTE prefix lies before the head. `clauses` are the clause
    * keywords at the block's own level, in text order. A set operation
    * is one block whose branches' clauses follow each other, so a
    * trailing clause after the last branch covers all the text before
    * it. */
  final case class Block(head: Int, end: Int, enclosed: Boolean, clauses: IndexedSeq[Clause]) {
    /** Where clause `i`'s body ends: at the next clause or the block end. */
    def bodyEnd(i: Int): Int = if (i + 1 < clauses.length) clauses(i + 1).start else end
    def indexOf(kw: String): Int = clauses.indexWhere(_.kw == kw)
    def lastIndexOf(kw: String): Int = clauses.lastIndexWhere(_.kw == kw)
    /** The keywords of the clauses after clause `i`. */
    def kwsAfter(i: Int): Seq[String] = clauses.view.drop(i + 1).map(_.kw).toSeq
  }

  /** The paren structure of one text, [[tree]]'s result. `code` is
    * the text's [[blank]] copy; `top` and `commas` are the clause
    * keywords and the commas outside every paren. */
  final class Tree private[ChLexer] (val code: String, partner: Array[Int],
      val blocks: IndexedSeq[Block], val top: IndexedSeq[Clause], val commas: IndexedSeq[Int]) {
    /** The index of the paren matching the one at `i`; -1 when `i` is
      * not a paren or its partner is missing. */
    def partnerOf(i: Int): Int = partner(i)
    /** Where the first clause keyword `kw` outside every paren starts,
      * or -1. */
    def keyword(kw: String): Int = top.find(_.kw == kw).fold(-1)(_.start)
  }

  private val ClauseWords =
    Set("SELECT", "FROM", "PREWHERE", "WHERE", "HAVING", "QUALIFY", "LIMIT", "OFFSET", "FETCH")
  // the two-word clause keywords, by first word
  private val SecondWords = Map("GROUP" -> Seq("BY"), "ORDER" -> Seq("BY"), "WITH" -> Seq("TOTALS", "TIES"))

  /** The paren structure of `s` in one scan of its [[blank]] copy: the
    * matching paren of every paren, the top-level commas, the query
    * blocks, and the clause keywords of each paren level — SELECT, FROM, PREWHERE, WHERE,
    * GROUP BY, WITH TOTALS, HAVING, QUALIFY, ORDER BY, LIMIT, the BY of
    * `LIMIT n BY`, OFFSET, FETCH and WITH TIES. A word after a `.` is
    * a name, not a keyword. An unmatched `)` is skipped and an
    * unmatched `(` runs to the end of the text. */
  def tree(s: String): Tree = {
    val code = blank(s)
    val n = code.length
    val partner = Array.fill(n)(-1)
    final class Level(val open: Int) {
      var leadParen = -1
      var sawCode = false
      val clauses = scala.collection.mutable.ArrayBuffer.empty[Clause]
    }
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
    def finish(l: Level, close: Int): Unit = {
      val head =
        if (l.leadParen >= 0) (if (l.clauses.nonEmpty) l.leadParen else -1)
        else l.clauses.find(_.kw == "SELECT").fold(-1)(_.start)
      val body = code.substring(l.open + 1, close).stripTrailing
      val end = l.open + 1 +
        (if (l.open < 0 && body.endsWith(";")) body.dropRight(1).stripTrailing.length else body.length)
      if (head >= 0 && head < end)
        blocks += Block(head, end, l.open >= 0, l.clauses.filter(_.start >= head).toIndexedSeq)
    }
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    def wordEnd(i: Int) = { var j = i; while (j < n && isWord(code.charAt(j))) j += 1; j }
    // the end of the word after `from` when it is `w`, else -1
    def next(from: Int, w: String): Int = {
      var a = from
      while (a < n && code.charAt(a).isWhitespace) a += 1
      val b = wordEnd(a)
      if (b - a == w.length && code.regionMatches(true, a, w, 0, w.length)) b else -1
    }
    val stack = scala.collection.mutable.ArrayBuffer(new Level(-1))
    val top = stack.head
    val commas = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      val c = code.charAt(i)
      val lv = stack.last
      if (c == '(') {
        if (!lv.sawCode) lv.leadParen = i
        lv.sawCode = true
        stack += new Level(i)
        i += 1
      } else if (c == ')') {
        if (stack.length > 1) {
          val inner = stack.remove(stack.length - 1)
          partner(inner.open) = i; partner(i) = inner.open
          finish(inner, i)
        }
        i += 1
      } else if (Character.isLetter(c) && (i == 0 || !isWord(code.charAt(i - 1)) && code.charAt(i - 1) != '.')) {
        lv.sawCode = true
        var e = wordEnd(i)
        if (e - i <= 8) {
          val w = code.substring(i, e).toUpperCase
          def add(kw: String, bodyStart: Int): Unit = { lv.clauses += Clause(kw, i, bodyStart); e = bodyStart }
          SecondWords.get(w) match {
            case Some(seconds) =>
              seconds.iterator.map(x => x -> next(e, x)).find(_._2 > 0).foreach { case (x, b) => add(s"$w $x", b) }
            case None =>
              if (ClauseWords.contains(w) ||
                  w == "BY" && lv.clauses.lastOption.exists(l => l.kw == "LIMIT" || l.kw == "OFFSET")) add(w, e)
          }
        }
        i = e
      } else {
        if (c == ',' && (lv eq top)) commas += i
        if (!c.isWhitespace) lv.sawCode = true
        i += 1
      }
    }
    while (stack.length > 1) finish(stack.remove(stack.length - 1), n)
    finish(top, n)
    new Tree(code, partner, blocks.toIndexedSeq, top.clauses.toIndexedSeq, commas.toIndexedSeq)
  }
}
