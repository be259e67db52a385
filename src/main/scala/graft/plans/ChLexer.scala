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
  * body is a placeholder, and its index scans (top-level commas,
  * parens, keywords) read [[blank]]'s same-length copy.
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
}
