package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

import graft.QueryLog

/** ClickHouse parametric-aggregate SQL syntax on Spark.
  *
  * ClickHouse spells parameterized aggregates as two call lists —
  * `quantile(0.5)(x)`, `quantiles(0.25, 0.75)(x)`, `topK(5)(v)` —
  * which Spark's grammar can't parse (the second list parses as a
  * lambda-less call on a call). This delegating parser flattens the
  * two lists into one (`quantile(0.5, x)`) BEFORE the real parser
  * runs; [[ChDialect]] registers the flattened names to the native
  * expressions (Percentile, [[GraftTopK]]), so the rest of the
  * pipeline — analysis, partial aggregation, codegen — is stock
  * Catalyst. Injected by [[GraftExtensions]] via `injectParser`.
  *
  * The same textual front end lowers the rest of the ClickHouse
  * dialect (`FINAL`, `PREWHERE`, CH type names, table functions, …).
  * Its passes see code only: [[ChLexer]] masks the body of every
  * string, quoted name and comment before the first pass and restores
  * it after the last, so dialect syntax written inside a literal,
  * quoted name or comment reaches Spark byte for byte. A pass that
  * needs a literal's value — a file path, a regex, a structure string
  * — reads it through the lexer, and nothing else scans quotes.
  */
class ChSqlParser(delegate: ParserInterface) extends ParserInterface {
  import ChSqlParser.rewriteParametric

  override def parsePlan(sqlText: String): LogicalPlan = parse(sqlText, None)
  // `spark.sql(text, args)` enters here (NOT parsePlan) in Spark 4.1;
  // the interface's default implementation drops the parameter
  // context, so a delegating parser MUST forward it or every
  // parameterized query fails with UNBOUND_SQL_PARAMETER.
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    parse(sqlText, Some(ctx))

  /** Both entry points. The plan is tagged with the dialect text, and
    * the rewrite charged to the caller's job group, for
    * system.query_log ([[QueryLog]]). */
  private def parse(sqlText: String, ctx: Option[ParameterContext]): LogicalPlan = {
    // An intercepted statement re-parses its text or executes at run
    // time, OUTSIDE the parameter binding — a `?` or `:name`
    // placeholder would silently unbind and then mis-parse. Refuse
    // loudly rather than mis-execute.
    def unbound(what: String)(plan: LogicalPlan): LogicalPlan = {
      if (ctx.exists(ChSqlParser.hasParameters)) throw new UnsupportedOperationException(
        s"parameterized $what is not supported: the statement re-parses or executes at run " +
          "time, where placeholder bindings are no longer in scope — inline the values")
      plan
    }
    QueryLog.tagQuery(
      ChSqlParser.interceptOutfile(sqlText).map(unbound("INTO OUTFILE"))
        .orElse(ChSqlParser.interceptInfile(sqlText).map(unbound("INSERT FROM INFILE / INSERT … FORMAT")))
        .getOrElse {
          val out = QueryLog.rewrite(rewriteParametric(sqlText))
          ChSqlParser.interceptCommand(out).map(unbound("ALTER TABLE DELETE/UPDATE/OPTIMIZE"))
            .orElse(ChSqlParser.interceptChCreate(sqlText, out).map(unbound("ClickHouse CREATE TABLE")))
            .getOrElse(ctx.fold(delegate.parsePlan(out))(delegate.parsePlanWithParameters(out, _)))
        }, sqlText)
  }
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(rewriteParametric(sqlText))
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(rewriteParametric(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object ChSqlParser {
  private def hasParameters(ctx: ParameterContext): Boolean = ctx match {
    case p: org.apache.spark.sql.catalyst.parser.PositionalParameterContext => p.params.nonEmpty
    case n: org.apache.spark.sql.catalyst.parser.NamedParameterContext => n.params.nonEmpty
    case _ => false
  }

  /** `name(params)(args` → `name(params, args` for the parametric
    * aggregate family. Non-parametric single-list calls of the same
    * names (`quantile(0.5, x)`) don't match (no second `(`). The param
    * list is constants by construction (ClickHouse requires literals
    * there): bare tokens, quoted strings which MAY contain parens
    * (sequenceMatch's `'(?1).*(?2)'`), or constant calls nested ONE
    * level (sumMapFiltered's `array('A', 'N')`). */
  private val Parametric =
    """\b(quantileExactWeighted|quantileExactLow|quantileExactHigh|quantileExactInclusive|quantileExactExclusive|quantilesExactExclusive|quantilesExactInclusive|quantileMerge|quantilesIf|quantileIf|quantileExact|quantileTDigestWeighted|quantileTDigest|quantileTimingWeighted|quantileTiming|quantilesTimingWeighted|quantilesTiming|quantileDeterministic|quantileInterpolatedWeighted|quantilesGK|quantileGK|quantileBFloat16|quantileDD|quantilesExact|quantilesTDigest|quantiles|quantile|topKWeighted|topKIf|topK|uniqUpTo|uniqCombined|histogram|sparkbar|sparkBar|largestTriangleThreeBuckets|windowFunnel|sequenceMatchEvents|sequenceMatch|sequenceCount|sequenceNextNode|groupArrayMovingSum|groupArrayMovingAvg|groupArraySorted|groupArrayInsertAt|groupArrayLast|groupArraySample|groupArray|groupConcat|sumMapFilteredWithOverflow|sumMapFiltered|countResample|sumResample|minResample|maxResample|avgResample|mannWhitneyUTest|kolmogorovSmirnovTest|meanZTest|exponentialMovingAverage|exponentialTimeDecayedSum|exponentialTimeDecayedAvg|exponentialTimeDecayedCount|exponentialTimeDecayedMax)\s*\(((?:'[^']*'|\((?:'[^']*'|[^()])*\)|[^()])*)\)\s*\(""".r

  /** ClickHouse `untuple(t)` in a select list → Spark's struct star
    * expansion `t.*`. Only a bare (possibly qualified) identifier is
    * rewritten — an arbitrary expression operand stays intact and
    * fails loudly at parse on the CH name. */
  private val Untuple = """(?i)\buntuple\s*\(\s*([A-Za-z_][\w.]*)\s*\)""".r

  /** ClickHouse `dateDiff('day', …)` (quoted unit) → `graft_dateDiff`,
    * which resolves to the boundary-crossing semantics in [[ChDialect]].
    * Spark's own `dateDiff(DAY, …)` (unquoted unit, a grammar-level
    * timestampdiff alias) doesn't match — the quote is required. */
  private val QuotedDateDiff = """\b(?:dateDiff|date_diff|timestampDiff|timestamp_diff)\s*\(\s*'""".r

  /** Same treatment for the add/sub family: Spark's grammar owns the
    * unquoted-unit spellings (`dateAdd(MONTH, …)` parses natively),
    * the ClickHouse quoted-unit forms route to the registry. Only the
    * camelCase CH spellings rewrite — `date_add('2024-01-01', 3)` is
    * Spark's own two-arg day-add and must stay untouched. */
  private val QuotedDateAdd = """\b(?:dateAdd|timestampAdd)\s*\(\s*'""".r
  private val QuotedDateSub = """\b(?:dateSub|timestampSub)\s*\(\s*'""".r

  /** ClickHouse `GLOBAL IN` / `GLOBAL JOIN`: a distributed-execution
    * hint that ships the right side to every shard — which is exactly
    * what Spark's broadcast/shuffle planning already decides (AQE
    * picks broadcast when the subquery result is small). The keyword
    * is semantically a no-op here, so it strips — only ahead of the
    * join/IN tokens it can legally prefix, never inside identifiers
    * (word-boundary + lookahead). */
  private val GlobalHint =
    """(?i)\bGLOBAL\s+(?=(?:NOT\s+)?IN\b|JOIN\b|INNER\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|ANY\b|ALL\b|SEMI\b|ANTI\b)""".r

  /** Trailing `FORMAT <name>` — the client-side output format every
    * ClickHouse console/driver appends. Output formatting is the
    * caller's concern here (DataFrames render themselves), so the
    * clause strips. End-anchored: CH only allows it as the final
    * clause, so a FORMAT mid-query is never touched. */
  private val FormatClause = """(?is)\s+FORMAT\s+[A-Za-z][A-Za-z0-9]*\s*;?\s*$""".r

  /** Trailing `SETTINGS k = v, …` — per-query engine knobs
    * (max_threads, max_memory_usage, …). Spark's equivalents are
    * session confs the harness owns; the clause is an execution hint
    * with no semantic effect, so it strips. End-anchored like FORMAT
    * (which strips first, so `SETTINGS … FORMAT …` unwinds right to
    * left). */
  private val SettingsClause =
    """(?is)\s+SETTINGS\s+\w+\s*=\s*(?:'[^']*'|[^,;\s]+)(?:\s*,\s*\w+\s*=\s*(?:'[^']*'|[^,;\s]+))*\s*;?\s*$""".r

  /** Trailing `INTO OUTFILE '<path>'` — the console's local-file
    * export. Output routing is the caller's concern (DataFrames write
    * wherever asked), so the clause strips; runs after the FORMAT
    * strip, which CH orders after it. */
  private val IntoOutfile = """(?is)\s+INTO\s+OUTFILE\s+'[^']*'\s*;?\s*$""".r

  /** ClickHouse type names inside `CAST(x AS <T>)` that Spark's
    * grammar rejects: Nullable(T) unwraps (every Spark type is
    * nullable), LowCardinality(String)/FixedString(n) → STRING, the
    * fixed-width integer/float/DateTime names map to their Spark
    * equivalents (unsigned widths widen one step). String/Date need
    * no rewrite — Spark already accepts those spellings — so bare
    * aliases named like common words are never touched; the mapped
    * names (UInt32, Float64, …) are not plausible aliases. */
  private val NullableCast = """(?i)\b(AS\s+)Nullable\s*\(\s*([A-Za-z0-9_]+(?:\s*\(\s*[0-9, ]*\s*\))?)\s*\)""".r
  private val LowCardCast  = """(?i)\b(AS\s+)LowCardinality\s*\(\s*String\s*\)""".r
  private val FixedStrCast = """(?i)\b(AS\s+)FixedString\s*\(\s*\d+\s*\)""".r
  private val ChTypeCast   = """(?i)\b(AS\s+)(UInt8|UInt16|UInt32|UInt64|Int8|Int16|Int32|Int64|Int128|Int256|UInt128|UInt256|Float32|Float64|DateTime64|DateTime|Date32)\b""".r
  private val ChTypeMap = Map(
    "uint8" -> "SMALLINT", "uint16" -> "INT", "uint32" -> "BIGINT", "uint64" -> "BIGINT",
    "int8" -> "TINYINT", "int16" -> "SMALLINT", "int32" -> "INT", "int64" -> "BIGINT",
    // the 128/256-bit widths narrow to DECIMAL(38,0) — Spark's widest
    // exact integral; values past 38 digits overflow LOUDLY under
    // ANSI, never silently wrap
    "int128" -> "DECIMAL(38,0)", "int256" -> "DECIMAL(38,0)",
    "uint128" -> "DECIMAL(38,0)", "uint256" -> "DECIMAL(38,0)",
    "float32" -> "FLOAT", "float64" -> "DOUBLE", "datetime" -> "TIMESTAMP", "datetime64" -> "TIMESTAMP",
    "date32" -> "DATE")
  // Enum('a' = 1, 'b' = 2) in a CAST: values are the names — STRING
  private val EnumCast = """(?i)\b(AS\s+)Enum(?:8|16)?\s*\(\s*(?:'[^']*'\s*=\s*-?\d+\s*,?\s*)+\)""".r

  /** ClickHouse's zero-arg `count()` → `count(*)`. */
  private val BareCount = """(?i)\bcount\s*\(\s*\)""".r

  /** Keywords a `[` can legally follow as an ARRAY LITERAL opener —
    * after any other identifier (or `)`/`]`/a string) it is Spark's
    * native subscript and stays. */
  private val PreBracketKeywords = Set(
    "select", "from", "where", "and", "or", "not", "in", "join", "on",
    "by", "as", "when", "then", "else", "end", "union", "all", "having",
    "array", "values", "between", "like", "ilike", "is", "case",
    "distinct", "group", "order", "limit", "interval", "using", "if",
    "return", "totals", "prewhere", "qualify", "settings")

  /** ClickHouse `[…]` array literals → `array(…)`. A single pass;
    * each `[` is classified by the token before it
    * (identifier/`)`/`]`/string → subscript, anything else including
    * the keyword set → literal) and its matching `]` rewrites with
    * it. Nested literals and mixed literal/subscript chains like
    * `[[1],[2]][1]` work — the closer inherits the opener's kind. */
  /** ClickHouse `{'k': v, …}` map literals → `map('k', v, …)`. Only
    * a `{` whose first significant content is a string key rewrites —
    * named parameters (`{n:UInt64}`) and anything else stay. A `:`
    * converts to an argument separator only when it FOLLOWS a string
    * key, so `::` casts and other value-side colons survive; nested
    * maps resolve over fixpoint passes (the inner literal surfaces
    * once its wrapper is rewritten). */
  private def rewriteMapLiterals(sql: String): String = {
    var cur = sql
    var prev: String = null
    var rounds = 0
    while (cur != prev && rounds < 8) { prev = cur; cur = mapLiteralPass(cur); rounds += 1 }
    cur
  }

  private def mapLiteralPass(sql: String): String = {
    if (!sql.contains('{')) return sql
    val sb = new java.lang.StringBuilder(sql.length + 16)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '{' =>
          var k = i + 1
          while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
          if (k < sql.length && sql.charAt(k) == '\'') {
            // map literal: scan to the matching brace
            sb.append("map(")
            i += 1
            var depth = 1
            var prevSig: Char = 0
            while (i < sql.length && depth > 0) {
              sql.charAt(i) match {
                case '{' => depth += 1; sb.append('{'); i += 1; prevSig = '{'
                case '}' =>
                  depth -= 1
                  sb.append(if (depth == 0) ")" else "}")
                  i += 1; prevSig = '}'
                case ':' if depth == 1 && prevSig == '\'' =>
                  // the key/value separator — only ever after a string key
                  sb.append(','); i += 1; prevSig = ','
                case c =>
                  sb.append(c); i += 1
                  if (!c.isWhitespace) prevSig = c
              }
            }
          } else { sb.append('{'); i += 1 }
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private def rewriteArrayLiterals(sql: String): String = {
    if (!sql.contains('[')) return sql
    val Subscript = 0; val ArrayLit = 1; val ParenList = 2
    val sb = new java.lang.StringBuilder(sql.length + 16)
    val kinds = scala.collection.mutable.Stack[Int]()
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '[' =>
          // token before the bracket, read back from the output
          var j = sb.length - 1
          while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
          val kind =
            if (j < 0) ArrayLit
            else sb.charAt(j) match {
              case ')' | ']' | '\'' | '"' | '`' => Subscript
              case c if c.isLetterOrDigit || c == '_' =>
                val e = j
                while (j >= 0 && (sb.charAt(j).isLetterOrDigit || sb.charAt(j) == '_')) j -= 1
                val word = sb.substring(j + 1, e + 1).toLowerCase
                // `IN [..]` is a value list, not an array expression
                if (word == "in") ParenList
                else if (PreBracketKeywords.contains(word)) ArrayLit
                else Subscript
              case _ => ArrayLit
            }
          kinds.push(kind)
          sb.append(kind match {
            case ArrayLit => "array("
            case ParenList => "("
            case _ => "["
          })
          i += 1
        case ']' =>
          val kind = if (kinds.nonEmpty) kinds.pop() else Subscript
          sb.append(if (kind == Subscript) ']' else ')')
          i += 1
        case c =>
          sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** `FROM file('path'[, 'Format'])` / `FROM s3('url'[, 'Format'])` /
    * `FROM url('uri'[, 'Format'])` → Spark's direct-path relation
    * `format.`path``. Formats with no path-syntax analog (headered
    * CSV, TSV delimiters, Native) refuse loudly toward
    * [[graft.sources.Formats]]. s3:// maps to the s3a:// connector
    * scheme; url() reads file: URIs in place and fetches allowlisted
    * (loopback / SPARK_GRAFT_URL_ALLOWLIST) http(s) URLs — every
    * other host keeps the egress refusal. */
  private val FileTableFn =
    """(?i)\bFROM\s+(file|s3|url)\s*\(\s*'([^']+)'\s*(?:,\s*'([^']+)')?\s*\)""".r

  /** Hosts url() may fetch from: loopback always (a service on this
    * node is not egress), plus the operator-supplied
    * SPARK_GRAFT_URL_ALLOWLIST (comma-separated host or host:port
    * entries). Everything else keeps the egress refusal. */
  private def urlHostAllowed(uri: java.net.URI): Boolean = {
    val allowed = Set("localhost", "127.0.0.1", "::1", "[::1]") ++
      sys.env.get("SPARK_GRAFT_URL_ALLOWLIST").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val host = Option(uri.getHost).getOrElse("")
    allowed.contains(host) || (uri.getPort > 0 && allowed.contains(s"$host:${uri.getPort}"))
  }

  /** Fetches already done this JVM, URL text → local temp path. The
    * rewrite runs at parse time, so without a cache every re-parse of
    * matching text (EXPLAIN, a retried statement, the same query
    * re-issued) would re-fetch and leak another temp file. */
  private val urlFetchCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** url('…') → a readable local path. file: URIs read in place; an
    * allowlisted http(s) URL is fetched ONCE per JVM, driver-side, to
    * a temp file (the ClickHouse use of url() is small lookup/side
    * files — on a multi-node cluster land big data on shared storage
    * instead). Redirects are REFUSED: HttpURLConnection follows 3xx
    * across hosts by default, which would let an allowlisted host
    * bounce the fetch to an arbitrary external one, defeating the
    * egress refusal this feature is built around. */
  private def resolveUrl(raw: String): String = {
    val uri = new java.net.URI(raw)
    uri.getScheme match {
      case null | "file" => Option(uri.getPath).filter(_.nonEmpty).getOrElse(raw)
      case "http" | "https" =>
        if (!urlHostAllowed(uri)) throw new UnsupportedOperationException(
          "url() to a non-allowlisted host needs arbitrary HTTP egress; land the file and " +
            "read it with file(), or add the host to SPARK_GRAFT_URL_ALLOWLIST")
        // fast path without locking; the double-checked putIfAbsent
        // below means a slow 30 s fetch never runs inside the map's
        // bin lock (computeIfAbsent would stall unrelated url()
        // parses hashing to the same stripe). A rare concurrent
        // duplicate fetch is harmless — last temp file wins.
        val cached = urlFetchCache.get(raw)
        if (cached != null) cached
        else {
          val conn = uri.toURL.openConnection() match {
            case h: java.net.HttpURLConnection => h
            case other => throw new UnsupportedOperationException(
              s"url(): unexpected connection type ${other.getClass.getName}")
          }
          conn.setInstanceFollowRedirects(false)
          conn.setConnectTimeout(5000); conn.setReadTimeout(30000)
          val code = conn.getResponseCode
          if (code >= 300 && code < 400) throw new UnsupportedOperationException(
            s"url(): '$raw' answered HTTP $code — redirects are refused because they can " +
              "leave the allowlist; point url() at the final location")
          if (code >= 400) throw new java.io.IOException(s"url(): '$raw' returned HTTP $code")
          // create the temp file only AFTER the response is accepted —
          // a persistently-failing URL must not accumulate one orphan
          // temp file per parse attempt
          val ext = {
            val p = Option(uri.getPath).getOrElse("")
            val i = p.lastIndexOf('.')
            if (i >= 0) p.substring(i) else ""
          }
          val tmp = java.nio.file.Files.createTempFile("graft_url_", ext)
          val in = conn.getInputStream
          try java.nio.file.Files.copy(in, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
          tmp.toFile.deleteOnExit()
          val prev = urlFetchCache.putIfAbsent(raw, tmp.toString)
          if (prev != null) { java.nio.file.Files.deleteIfExists(tmp); prev }
          else tmp.toString
        }
      case other => throw new UnsupportedOperationException(
        s"url() scheme '$other' is not readable here; use file()/s3() or a mounted path")
    }
  }

  private def rewriteFileTableFn(sql: String, lx: ChLexer.Masked): String =
    FileTableFn.replaceAllIn(sql, m => {
      val (fn, path) = (m.group(1).toLowerCase, lx.body(m.group(2)))
      val fmt = Option(m.group(3)).map(lx.body).getOrElse {
        // infer from the extension, the CH default behavior
        val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
        ext match {
          case "parquet" => "Parquet"
          case "orc" => "ORC"
          case "json" | "jsonl" | "ndjson" => "JSONEachRow"
          case "csv" => "CSV"
          case other => throw new IllegalArgumentException(
            s"file(): cannot infer a format from extension '$other'; pass the format name")
        }
      }
      val spark = fmt match {
        case "Parquet" => "parquet"
        case "ORC" => "orc"
        case "JSONEachRow" | "NDJSON" | "JSONLines" => "json"
        case "CSV" => "csv"
        case other => throw new IllegalArgumentException(
          s"file()/s3(): format '$other' has no direct-path reader; use graft.sources.Formats")
      }
      val p = if (fn == "s3" && path.startsWith("s3://")) s3aPath(path)
              else if (fn == "url") resolveUrl(path)
              else path
      scala.util.matching.Regex.quoteReplacement(s"FROM $spark.`${lx.hold(p)}`")
    })

  /** `FROM generateRandom('a UInt64, b String'[, seed…]) LIMIT n` —
    * CH's random-rows generator. The declared structure maps through
    * the DDL type mapper to per-type random projections over
    * range(n); the LIMIT is consumed as the row count (unbounded
    * generation refuses — the seed args are accepted and ignored,
    * rand() seeds per plan like the rand distribution family). */
  private val GenerateRandomFn =
    """(?i)\bFROM\s+generateRandom\s*\(\s*'([^']+)'[^)]*\)\s+LIMIT\s+(\d+)""".r
  private val GenerateRandomNoLimit =
    """(?i)\bFROM\s+generateRandom\s*\(""".r

  private def randomExprFor(sparkType: String, name: String): String = sparkType match {
    case "BIGINT" => s"CAST(rand() * 9e18 AS BIGINT) AS $name"
    case "INT" => s"CAST(rand() * 2e9 - 1e9 AS INT) AS $name"
    case "SMALLINT" => s"CAST(rand() * 6e4 - 3e4 AS SMALLINT) AS $name"
    case "TINYINT" => s"CAST(rand() * 200 - 100 AS TINYINT) AS $name"
    case "DOUBLE" => s"(rand() * 2 - 1) * 1e6 AS $name"
    case "FLOAT" => s"CAST((rand() * 2 - 1) * 1e6 AS FLOAT) AS $name"
    case "STRING" => s"randomPrintableASCII(8) AS $name"
    case "BOOLEAN" => s"rand() < 0.5 AS $name"
    case "DATE" => s"date_add(date'1970-01-01', CAST(rand() * 20000 AS INT)) AS $name"
    case "TIMESTAMP" => s"timestamp_seconds(CAST(rand() * 1.7e9 AS BIGINT)) AS $name"
    case t if t.startsWith("DECIMAL") => s"CAST(rand() * 1e6 AS $t) AS $name"
    case other => throw new IllegalArgumentException(
      s"generateRandom: no generator for type $other; project it from a supported column")
  }

  /** A table function's `'name Type, …'` structure, one select item
    * per entry: `item(name, Spark type)`. */
  private def structureItems(fn: String, structure: String)(item: (String, String) => String): String =
    topLevelSplit(structure).map { entry =>
      val t = entry.trim
      val sp = t.indexOf(' ')
      if (sp < 0) throw new IllegalArgumentException(s"$fn structure entry '$t' needs 'name Type'")
      item(t.substring(0, sp), chDdlType(t.substring(sp + 1).trim))
    }.mkString(", ")

  private def rewriteGenerateRandom(sql: String, lx: ChLexer.Masked): String = {
    val out = GenerateRandomFn.replaceAllIn(sql, m => {
      val cols = structureItems("generateRandom", lx.body(m.group(1)))((n, t) => randomExprFor(t, n))
      scala.util.matching.Regex.quoteReplacement(s"FROM (SELECT $cols FROM range(${m.group(2)}))")
    })
    if (GenerateRandomNoLimit.findFirstIn(out).isDefined)
      throw new UnsupportedOperationException(
        "generateRandom needs a LIMIT to bound the row count on a finite engine")
    out
  }

  /** `FROM null('a UInt64, …')` — an empty relation with the declared
    * schema (CH's sink/placeholder table function): the same
    * structure mapping over range(0). */
  private val NullTableFn =
    """(?i)\bFROM\s+null\s*\(\s*'([^']+)'\s*\)""".r

  private def rewriteNullTableFn(sql: String, lx: ChLexer.Masked): String =
    NullTableFn.replaceAllIn(sql, m => {
      val cols = structureItems("null()", lx.body(m.group(1)))((n, t) => s"CAST(NULL AS $t) AS $n")
      scala.util.matching.Regex.quoteReplacement(s"FROM (SELECT $cols FROM range(0))")
    })

  /** remote()/remoteSecure() address a DIFFERENT server — that needs
    * network egress to a live ClickHouse, which this engine does not
    * model. cluster()/merge() below DO have single-session analogs. */
  private val RemoteTableFn =
    """(?i)\bFROM\s+(remote|remoteSecure)\s*\(""".r

  /** `merge(['db',] 'tables_regexp')` — CH's Merge-engine table
    * function (reference corpus uses it to read sharded-by-name table
    * families): every catalog table whose NAME matches the regexp
    * (re2 partial match in CH; java `find()` here), expanded at parse
    * time into one ordinary UNION ALL so Catalyst plans it like any
    * union — per-branch filter/column pushdown still applies. The CH
    * virtual column `_table` materializes only when the query text
    * references it, matching CH's lazy virtual-column semantics. */
  private val MergeTableFn =
    """(?i)\bFROM\s+merge\s*\(\s*((?:[^()']|\([^()]*\)|'[^']*')*)\)""".r

  /** `cluster('name', db.table)` / `clusterAllReplicas(...)` — in CH
    * these fan a query out over every shard/replica of a cluster. In
    * Spark, distribution IS the execution model: the table already
    * spans all executors, so reading it directly is the exact
    * semantic equivalent of "run on every shard and union". */
  private val ClusterFn =
    """(?i)\bFROM\s+(cluster|clusterAllReplicas)\s*\(\s*((?:[^()']|\([^()]*\)|'[^']*')*)\)""".r

  private val TableVirtualColRef = """(?i)\b_table\b""".r

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') || (t.head == '`' && t.last == '`')))
      t.substring(1, t.length - 1)
    else t
  }

  /** Databases that mean "this session" — everything else would be a
    * different ClickHouse server's namespace. */
  private def requireLocalDb(db: String, fn: String): Unit = {
    val d = db.trim
    if (!(d.isEmpty || d.equalsIgnoreCase("default") || d.equalsIgnoreCase("currentDatabase()")))
      throw new UnsupportedOperationException(
        s"$fn(): database '$d' is not this session's catalog; only default/currentDatabase() " +
          "tables exist here — land the remote table locally first")
  }

  private def rewriteMergeTableFn(sql: String, lx: ChLexer.Masked): String =
    MergeTableFn.replaceAllIn(sql, m => {
      val args = topLevelSplit(m.group(1)).map(a => lx.body(stripQuotes(a)))
      val rx = args match {
        case Seq(one) => one
        case Seq(db, r) => requireLocalDb(db, "merge"); r
        case _ => throw new IllegalArgumentException(
          "merge() takes ('tables_regexp') or (db, 'tables_regexp')")
      }
      val spark = org.apache.spark.sql.SparkSession.active
      val pat = java.util.regex.Pattern.compile(rx)
      // names only (the current database's tables and the temp views):
      // Catalog.listTables would look up every table's metadata
      val catalog = spark.sessionState.catalog
      val names = catalog.listTables(catalog.getCurrentDatabase).map(_.table)
        .filter(n => pat.matcher(n).find()).sorted
      if (names.isEmpty) throw new IllegalArgumentException(
        s"merge(): no catalog table name matches '$rx'")
      // CH's Merge engine takes the structure of the first table; a
      // positional UNION ALL over drifted schemas would silently
      // mis-bind columns, so require name-identical layouts upfront.
      val colNames = names.map(n => n -> spark.table(n).schema.fieldNames.toSeq)
      colNames.find(_._2 != colNames.head._2).foreach { case (n, cols) =>
        throw new UnsupportedOperationException(
          s"merge(): table '$n' columns ${cols.mkString("(", ", ", ")")} differ from " +
            s"'${colNames.head._1}' ${colNames.head._2.mkString("(", ", ", ")")}; align the " +
            "schemas or UNION the aligned projections explicitly")
      }
      // lazy virtual column: materialize _table only when the query
      // references it
      val wantTable = TableVirtualColRef.findFirstIn(sql).isDefined
      val branches = names.map { n =>
        if (wantTable) s"SELECT *, '$n' AS _table FROM $n" else s"SELECT * FROM $n"
      }
      scala.util.matching.Regex.quoteReplacement(
        s"FROM (${branches.mkString(" UNION ALL ")})")
    })

  private def rewriteClusterFn(sql: String, lx: ChLexer.Masked): String =
    ClusterFn.replaceAllIn(sql, m => {
      val fn = m.group(1)
      val args = topLevelSplit(m.group(2)).map(a => lx.body(stripQuotes(a)).trim).filter(_.nonEmpty)
      if (args.size < 2) throw new IllegalArgumentException(
        s"$fn() takes ('cluster', db.table) or ('cluster', db, table)")
      val table = args.drop(1) match {
        case Seq(dbTable) =>
          val parts = dbTable.split("\\.", 2)
          if (parts.length == 2) { requireLocalDb(parts(0), fn); parts(1) } else dbTable
        case Seq(db, t) => requireLocalDb(db, fn); t
        case _ => throw new IllegalArgumentException(
          s"$fn(): too many arguments — table functions as the target are not modeled")
      }
      scala.util.matching.Regex.quoteReplacement(s"FROM $table")
    })

  /** `INSERT INTO [FUNCTION] file('p', 'Fmt') SELECT …` — the write
    * side of the table function → INSERT OVERWRITE DIRECTORY. */
  private val InsertFileFn =
    """(?i)\bINSERT\s+INTO\s+(?:FUNCTION\s+)?(file|s3)\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)""".r

  private def rewriteInsertFileFn(sql: String, lx: ChLexer.Masked): String =
    InsertFileFn.replaceAllIn(sql, m => {
      val path = lx.body(m.group(2))
      val fmt = lx.body(m.group(3)) match {
        case "Parquet" => "parquet"
        case "ORC" => "orc"
        case "JSONEachRow" | "NDJSON" | "JSONLines" => "json"
        case "CSV" => "csv"
        case other => throw new IllegalArgumentException(
          s"file() write: format '$other' has no directory writer; use graft.sources.Formats")
      }
      val p = if (m.group(1).toLowerCase == "s3" && path.startsWith("s3://"))
        s3aPath(path) else path
      scala.util.matching.Regex.quoteReplacement(
        s"INSERT OVERWRITE DIRECTORY '${lx.hold(p)}' USING $fmt")
    })

  /** s3:// → s3a:// (the Hadoop connector scheme). Credentials
    * embedded in the URL authority (`s3://key:secret@bucket/…`)
    * refuse with routing guidance: they would otherwise ride into the
    * relation path and surface in plans/logs — the connector's
    * credential-provider chain (Hadoop conf / env / instance role) is
    * the supported channel. Shared by the read and write rewrites so
    * the contract cannot diverge (round 17, spec-pinned in
    * Round17S3PathSpec). */
  private def s3aPath(path: String): String = {
    val rest = path.stripPrefix("s3://")
    val authority = rest.takeWhile(_ != '/')
    if (authority.contains("@")) throw new IllegalArgumentException(
      "s3(): credentials in the URL are refused — configure the s3a credential " +
        "provider chain (fs.s3a.access.key/fs.s3a.secret.key in Hadoop conf, env, " +
        "or an instance role) and pass the bare s3://bucket/path")
    "s3a://" + rest
  }

  /** Longer file()/s3()/url() argument lists (credentials, explicit
    * structure, headers) that the 1-2 arg rewrite above cannot model
    * — caught here so the user gets the intended guidance instead of
    * an opaque unresolved-relation error. */
  private val FileTableFnLong =
    """(?i)\bFROM\s+(file|s3|url)\s*\(\s*'[^']*'\s*,\s*'[^']*'\s*,""".r

  /** ClickHouse CREATE TABLE DDL → Spark DDL. Fires ONLY when an
    * `ENGINE =` clause marks the statement as ClickHouse dialect —
    * plain Spark DDL never matches. Column types map through
    * [[chDdlType]]; DEFAULT/MATERIALIZED/CODEC/COMMENT column
    * attributes strip; PARTITION BY keeps bare-identifier keys as
    * PARTITIONED BY; ORDER BY / PRIMARY KEY / SAMPLE BY / TTL /
    * SETTINGS strip — they are physical-layout hints whose honored
    * path is [[graft.sources.MergeTreeWrite]] (month partitions +
    * sorted files), not catalog DDL. */
  private val ChCreateTable =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*\((.*)\)\s*ENGINE\s*=\s*[A-Za-z]+(?:\([^)]*\))?\s*(.*?)\s*;?\s*$""".r

  /** `CREATE MATERIALIZED VIEW … [TO t] [ENGINE = …] [POPULATE] AS
    * SELECT …` → a plain view: results are identical on read; the
    * incremental-materialization path is [[graft.operators.MatView]]
    * (and its streaming sibling), which this DDL front-end documents
    * rather than hides. */
  private val ChCreateMatView =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*).*?\bAS\s+(SELECT\b.*)$""".r

  /** ClickHouse mutation/optimize DDL executes through
    * [[graft.plans.ChCommands]] (RunnableCommands over the
    * partition-pruned copy-on-write path) — see interceptCommand. */
  private val AlterMutationFull =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+(DELETE|UPDATE)\s+(.*?)\s*;?\s*$""".r

  /** ClickHouse lightweight delete — `DELETE FROM t WHERE …`, the
    * CH 23+ preferred spelling. CH implements it as a masked mutation
    * applied lazily; with copy-on-write rewrite the distinction is
    * moot, so it executes through the same partition-pruned path as
    * `ALTER TABLE … DELETE`. */
  private val LightweightDelete =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)\s+WHERE\s+(.*?)\s*;?\s*$""".r
  private val LightweightDeleteBare =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r

  /** Lightweight UPDATE (`UPDATE t SET a = e[, …] WHERE p`, ClickHouse
    * 25.7+'s standard-SQL spelling) — same executable path as
    * `ALTER TABLE … UPDATE`. */
  private val LightweightUpdate =
    """(?is)^\s*UPDATE\s+([A-Za-z_][\w.]*)\s+SET\s+(.*?)\s*;?\s*$""".r
  /** `DROP TABLE [IF EXISTS] t` — intercepted ONLY when a parse-time
    * probe finds sibling layout directories (projections / vector
    * indexes) beside the table's location: the native drop would
    * orphan them on disk. Plain tables, temp views and missing names
    * fall through to Spark's native command untouched. */
  private val DropTableStmt =
    """(?is)^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_][\w.]*)\s*;?\s*$""".r

  private def hasSiblingLayouts(name: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
      try {
        val lp = ChCommands.resolve(s, name).path
        val p = new org.apache.hadoop.fs.Path(lp)
        val fs = ChCommands.fsOf(s, lp)
        val sibs = fs.globStatus(
          new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__graft_*"))
        sibs != null && sibs.nonEmpty
      } catch { case _: Exception => false }
    }

  // vector_similarity index DDL (round 19 — plans/VectorIndex.scala)
  private val AlterAddIndexStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ADD\s+INDEX\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(.*?)\s*;?\s*$""".r
  private val AlterDropIndexStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?(`[^`]+`|[A-Za-z_]\w*)\s*;?\s*$""".r
  private val AlterMaterializeIndexStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+MATERIALIZE\s+INDEX\s+(`[^`]+`|[A-Za-z_]\w*)\s*;?\s*$""".r

  private val AlterColumnStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+(ADD|DROP|RENAME|MODIFY)\s+COLUMN\s+(.*?)\s*;?\s*$""".r
  private val AlterDropPartition =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+DROP\s+PARTITION\s+(.*?)\s*;?\s*$""".r
  private val AlterDetachAttachPartition =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+(DETACH|ATTACH)\s+PARTITION\s+(.*?)\s*;?\s*$""".r
  private val AlterPartitionOther =
    """(?is)^\s*ALTER\s+TABLE\s+[\w.]+\s+(DETACH|ATTACH|FREEZE|MOVE|REPLACE|FETCH)\s+PART(ITION)?\b.*$""".r
  private val AlterDropPart =
    """(?is)^\s*ALTER\s+TABLE\s+[\w.]+\s+DROP\s+PART\s.*$""".r
  private val ExchangeTablesStmt =
    """(?is)^\s*EXCHANGE\s+TABLES\s+([\w.]+)\s+AND\s+([\w.]+)\s*;?\s*$""".r

  /** One `ALTER TABLE … {ADD|DROP|RENAME|MODIFY} COLUMN` clause →
    * [[ChColumnOp]]. ClickHouse's comma-chained multi-op ALTER is
    * refused (one op per statement keeps the swap atomic per op). */
  private def parseColumnOp(kind: String, rest0: String): ChColumnOp = {
    if (topLevelSplit(rest0).length > 1) throw new UnsupportedOperationException(
      "one column operation per ALTER TABLE statement here — issue them sequentially")
    val rest = rest0.trim
    def stripIf(re: String, s: String): (Boolean, String) = {
      val m = ("(?is)^" + re + "\\s+").r
      m.findFirstIn(s) match {
        case Some(x) => (true, s.substring(x.length).trim)
        case None => (false, s)
      }
    }
    kind.toUpperCase match {
      case "ADD" =>
        val (ifNot, r1) = stripIf("IF\\s+NOT\\s+EXISTS", rest)
        val nm = """(?s)^(`[^`]+`|[A-Za-z_]\w*)\s+(.*)$""".r.findFirstMatchIn(r1).getOrElse(
          throw new IllegalArgumentException(s"ADD COLUMN: cannot parse '$r1' (need name Type)"))
        val name = nm.group(1).stripPrefix("`").stripSuffix("`")
        var spec = nm.group(2).trim
        // position clause first (end-anchored), then DEFAULT split
        var first = false
        var after: Option[String] = None
        """(?is)\s+FIRST\s*$""".r.findFirstIn(spec).foreach { x =>
          first = true; spec = spec.substring(0, spec.length - x.length).trim
        }
        """(?is)\s+AFTER\s+(`[^`]+`|[A-Za-z_]\w*)\s*$""".r.findFirstMatchIn(spec).foreach { m =>
          after = Some(m.group(1).stripPrefix("`").stripSuffix("`"))
          spec = spec.substring(0, m.start).trim
        }
        for (kw <- Seq("MATERIALIZED", "EPHEMERAL", "ALIAS", "CODEC", "TTL", "COMMENT"))
          if (("(?is)\\b" + kw + "\\b").r.findFirstIn(spec).isDefined)
            throw new UnsupportedOperationException(
              s"ADD COLUMN … $kw has no storage analog here; use a plain column (+ DEFAULT)")
        val (chType, default) =
          """(?is)\s+DEFAULT\s+""".r.findFirstMatchIn(spec) match {
            case Some(m) => (spec.substring(0, m.start).trim,
                             Some(spec.substring(m.end).trim))
            case None => (spec, None)
          }
        if (chType.isEmpty) throw new IllegalArgumentException(
          "ADD COLUMN needs an explicit type (CH infers from DEFAULT; spell the type here)")
        ChColumnOp.Add(name, chType, default, first, after, ifNot)
      case "DROP" =>
        val (ifEx, r1) = stripIf("IF\\s+EXISTS", rest)
        ChColumnOp.Drop(r1.stripPrefix("`").stripSuffix("`"), ifEx)
      case "RENAME" =>
        val (ifEx, r1) = stripIf("IF\\s+EXISTS", rest)
        val m = """(?is)^(`[^`]+`|[A-Za-z_]\w*)\s+TO\s+(`[^`]+`|[A-Za-z_]\w*)\s*$""".r
          .findFirstMatchIn(r1).getOrElse(throw new IllegalArgumentException(
            s"RENAME COLUMN: cannot parse '$r1' (need old TO new)"))
        ChColumnOp.Rename(m.group(1).stripPrefix("`").stripSuffix("`"),
          m.group(2).stripPrefix("`").stripSuffix("`"), ifEx)
      case "MODIFY" =>
        val (ifEx, r1) = stripIf("IF\\s+EXISTS", rest)
        val m = """(?s)^(`[^`]+`|[A-Za-z_]\w*)\s+(.*)$""".r.findFirstMatchIn(r1).getOrElse(
          throw new IllegalArgumentException(
            s"MODIFY COLUMN: cannot parse '$r1' (need name NewType)"))
        val spec = m.group(2).trim
        if ("""(?is)^(DEFAULT|MATERIALIZED|ALIAS|CODEC|TTL|COMMENT|REMOVE)\b""".r
              .findFirstIn(spec).isDefined)
          throw new UnsupportedOperationException(
            "MODIFY COLUMN here changes the TYPE only (name NewType); column attributes " +
              "(DEFAULT/CODEC/TTL/…) have no storage analog")
        ChColumnOp.Modify(m.group(1).stripPrefix("`").stripSuffix("`"), spec, ifEx)
    }
  }
  private val OptimizeStmt =
    """(?is)^\s*OPTIMIZE\s+TABLE\s+([A-Za-z_][\w.]*)\s*(.*?)\s*;?\s*$""".r

  /** Executable maintenance DDL → eager RunnableCommand plans; None
    * for every other statement (the delegate parses those). Runs on
    * the REWRITTEN text, so SETTINGS/FORMAT tails are already
    * stripped and CH literal forms already translated. */
  /** `col = expr, …` assignment list — shared by `ALTER TABLE …
    * UPDATE` and the lightweight `UPDATE … SET` spelling so the two
    * can never drift. */
  private def parseAssignments(setPart: String): Seq[(String, String)] =
    topLevelSplit(setPart).map { a =>
      val m = """(?s)^\s*(`[^`]+`|[A-Za-z_]\w*)\s*=\s*(.*?)\s*$""".r.findFirstMatchIn(a)
        .getOrElse(throw new IllegalArgumentException(s"cannot parse assignment '$a'"))
      (m.group(1).stripPrefix("`").stripSuffix("`"), m.group(2))
    }

  /** `SELECT … INTO OUTFILE 'path' [FORMAT f]` EXECUTES as an export
    * command (round 10; previously the clause stripped): the inner
    * query re-enters the full dialect at run time and its result
    * lands at the path in the named format. Captured before the
    * rewrite chain, which would otherwise strip the clause, on the
    * lexer's masked text: a clause inside a comment or a literal is
    * not one, and the path and codec are read through the lexer. */
  private val IntoOutfileStmt =
    """(?is)^\s*((?:\(\s*)*(?:SELECT|WITH)\b.*\S)\s+INTO\s+OUTFILE\s+'([^']+)'(?:\s+COMPRESSION\s+'([^']+)'(?:\s+LEVEL\s+(\d+))?)?(?:\s+FORMAT\s+(\w+))?\s*;?\s*$""".r

  private[plans] def interceptOutfile(sql: String): Option[LogicalPlan] = {
    val lx = ChLexer.mask(sql)
    IntoOutfileStmt.findFirstMatchIn(lx.text).map { m =>
      ChIntoOutfileCommand(lx.unmask(m.group(1)), lx.body(m.group(2)), Option(m.group(5)),
        Option(m.group(3)).map(lx.body), Option(m.group(4)).map(_.toInt))
    }
  }

  /** `INSERT INTO t [(cols)] FROM INFILE 'path' [COMPRESSION 'c']
    * [FORMAT f]` — the ingestion twin of INTO OUTFILE (round 16): the
    * reference's migration flow lands files then loads them, and only
    * the export half executed before. Routed through
    * [[graft.sources.Formats]]' name mapping (FORMAT omitted → the
    * file extension infers it, CH's own rule). */
  private val InsertFromInfileStmt =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*(?:\(([^()]*)\))?\s*FROM\s+INFILE\s+'([^']+)'(?:\s+COMPRESSION\s+'([^']+)')?(?:\s+FORMAT\s+(\w+))?\s*;?\s*$""".r

  /** `INSERT INTO t [(cols)] FORMAT f⏎<rows…>` — the client-script
    * spelling where the payload follows the statement (CH's native /
    * HTTP protocols carry it out-of-band; scripts inline it after a
    * newline). Text formats execute by parsing the inline payload
    * distributed (Dataset[String] → the same reader options as
    * INFILE); binary formats and a MISSING payload refuse with the
    * FROM INFILE route. */
  private val InsertInlineFormatStmt =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*(?:\(([^()]*)\))?\s*FORMAT\s+(\w+)(?:[ \t]*\r?\n([\s\S]*\S))?\s*$""".r

  private def splitColList(cols: Option[String]): Seq[String] =
    cols.map(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Both INSERT forms above, matched on the lexer's masked text like
    * [[interceptOutfile]]. An inline payload comes back byte for byte
    * (an unpaired quote in it masks to the end of the text) and then
    * loses its trailing whitespace, as the pattern's `\S` end does. */
  private[plans] def interceptInfile(sql: String): Option[LogicalPlan] = {
    val lx = ChLexer.mask(sql)
    lx.text match {
      case InsertFromInfileStmt(table, cols, path, compression, format) =>
        Some(ChInsertFromInfileCommand(table, splitColList(Option(cols).map(lx.unmask)),
          lx.body(path), Option(format), Option(compression).map(lx.body)))
      case InsertInlineFormatStmt(table, cols, format, payload)
          if !table.equalsIgnoreCase("FUNCTION") =>
        Some(ChInsertInlineFormatCommand(table, splitColList(Option(cols).map(lx.unmask)),
          format, Option(payload).map(lx.unmask(_).stripTrailing())))
      case _ => None
    }
  }

  /** `ENGINE = Join(strictness, kind, keys…)` — the two CREATE forms
    * intercept into [[ChCreateJoinTableCommand]] (the generic
    * CREATE-TABLE rewrites skip Join engines so the clause survives
    * to this intercept). */
  private val CreateJoinTableAs =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+ENGINE\s*=\s*Join\s*\(([^)]*)\)\s*AS\s+(SELECT\b.*)$""".r
  private val CreateJoinTableCols =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*\((.*)\)\s*ENGINE\s*=\s*Join\s*\(([^)]*)\)\s*;?\s*$""".r

  private def parseJoinEngineArgs(args: String): (String, String, Seq[String]) = {
    val parts = args.split(",").map(_.trim).filter(_.nonEmpty)
    require(parts.length >= 3,
      s"ENGINE = Join needs (strictness, kind, key[, key …]), got ($args)")
    val strictness = parts(0)
    val known = Seq("ANY", "ALL", "SEMI", "ANTI")
    require(known.exists(_.equalsIgnoreCase(strictness)),
      s"ENGINE = Join strictness '$strictness' is not one of ${known.mkString("/")}")
    (strictness, parts(1), parts.drop(2).toSeq.map(_.stripPrefix("`").stripSuffix("`")))
  }

  /** `SHOW CREATE TABLE t` — one `statement` row with the
    * reconstructed ClickHouse DDL (table record + catalog schema +
    * live TTL rule + projections), CH's own output shape. Evaluated
    * at parse time (the CHECK TABLE / EXISTS discipline) as a command
    * so later textual rewrites can't touch the DDL string; tables
    * carrying NO graft metadata return None here and fall through to
    * Spark's native SHOW CREATE TABLE (createtab_stmt). */
  private val ShowCreateTableStmt =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)\s*;?\s*$""".r

  /** `SHOW CREATE DICTIONARY d` — the original CREATE DICTIONARY text
    * (recorded at execution; CH answers a normalized form, this
    * answers the statement as written — same information). Unknown or
    * Scala-registered dictionaries refuse with guidance. */
  private val ShowCreateDictStmt =
    """(?is)^\s*SHOW\s+CREATE\s+DICTIONARY\s+((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)\s*;?\s*$""".r

  /** `DESCRIBE TABLE t` / `DESC TABLE t` — CH's column shape for
    * engine-recorded tables; plain tables (and the bare `DESCRIBE t`
    * spelling) stay on Spark's native DESCRIBE. Parse probes only
    * metadata existence; the rows compose at execution. */
  private val DescribeTableStmt =
    """(?is)^\s*(?:DESCRIBE|DESC)\s+TABLE\s+((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)\s*;?\s*$""".r

  /** `EXISTS [TEMPORARY] [TABLE] t` / `EXISTS DICTIONARY d` /
    * `EXISTS DATABASE db` — CH's existence probe (one `result` row,
    * 1/0). The bare `EXISTS name` spelling is CH's own shorthand for
    * the table form; `EXISTS (SELECT …)` subqueries never reach here
    * (a statement cannot begin with one). */
  private val ExistsStmt =
    """(?is)^\s*EXISTS\s+(?:(TEMPORARY\s+)?(?:TABLE)\s+|(DICTIONARY)\s+|(DATABASE)\s+)?((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)\s*;?\s*$""".r

  private val CheckTableStmt =
    """(?is)^\s*CHECK\s+TABLE\s+((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))*)\s*;?\s*$""".r

  private[plans] def interceptCommand(sql: String): Option[LogicalPlan] = sql match {
    case ExistsStmt(tmp, dict, db, name0) =>
      val kind =
        if (dict != null) "dictionary"
        else if (db != null) "database"
        else if (tmp != null) "temptable" // CH's TEMPORARY form: temp tables only
        else "table"
      Some(ChExistsCommand(name0.replace("`", ""), kind))
    case CheckTableStmt(name0) =>
      Some(ChCheckTableCommand(name0.replace("`", "")))
    case ShowCreateDictStmt(name) =>
      val n = name.replace("`", "")
      if (!graft.operators.Dictionaries.exists(n))
        throw new IllegalArgumentException(s"dictionary '$n' does not exist")
      graft.operators.Dictionaries.ddlOf(n) match {
        case Some(ddl) => Some(ChShowCreateTableCommand(n, Some(ddl)))
        case None => throw new UnsupportedOperationException(
          s"dictionary '$n' was registered through the Scala API (graft.operators." +
            "Dictionaries), not DDL — there is no CREATE statement to show")
      }
    case DescribeTableStmt(table0) =>
      val table = table0.replace("`", "")
      org.apache.spark.sql.SparkSession.getActiveSession
        .filter(s => ChCommands.hasChTableMetadata(s, table))
        .map(_ => ChDescribeTableCommand(table))
    case ShowCreateTableStmt(table0) =>
      val table = table0.replace("`", "") // per-part backtick quoting
      // parse probes only metadata EXISTENCE (the None-fallthrough to
      // Spark's native SHOW CREATE TABLE); the DDL text composes at
      // execution so it tracks ALTERs made after parse
      org.apache.spark.sql.SparkSession.getActiveSession
        .filter(s => ChCommands.hasChTableMetadata(s, table))
        .map(_ => ChShowCreateTableCommand(table))
    case CreateJoinTableAs(ifNot, name, engineArgs, select) =>
      val (strictness, kind, keys) = parseJoinEngineArgs(engineArgs)
      val ine = if (ifNot == null) "" else "IF NOT EXISTS "
      Some(ChCreateJoinTableCommand(name, strictness, kind, keys,
        s"CREATE TABLE $ine$name USING parquet AS $select"))
    case CreateJoinTableCols(ifNot, name, colsRaw, engineArgs) =>
      val (strictness, kind, keys) = parseJoinEngineArgs(engineArgs)
      val ine = if (ifNot == null) "" else "IF NOT EXISTS "
      val cols = chColumnsToSpark(colsRaw).map { case (n, t) => s"$n $t" }
      Some(ChCreateJoinTableCommand(name, strictness, kind, keys,
        s"CREATE TABLE $ine$name (${cols.mkString(", ")}) USING parquet"))
    case AlterDropPart() => throw new UnsupportedOperationException(
      "DROP PART names a physical part — this layout's unit is the partition; " +
        "use DROP PARTITION 'value' or graft.sources.MergeTreeWrite.compact")
    case AlterDetachAttachPartition(table, verb, value) =>
      // DETACH/ATTACH PARTITION 'v' execute (round 11) as a directory
      // move to/from the __graft_detached sibling; the FROM form
      // (cross-table copy-attach) keeps refusing toward copy + ATTACH
      if ("""(?i)\bFROM\b""".r.findFirstIn(value).isDefined)
        throw new UnsupportedOperationException(
          s"$verb PARTITION FROM <table> copies across tables — INSERT the partition's " +
            "rows into the target, or copy the partition directory, then ATTACH")
      Some(ChDetachAttachPartitionCommand(table, value, verb.equalsIgnoreCase("ATTACH")))
    case AlterPartitionOther(verb, _) => throw new UnsupportedOperationException(
      s"ALTER TABLE $verb PARTITION has no single-engine analog here; DROP PARTITION " +
        "and DETACH/ATTACH PARTITION execute, and cross-table moves are a copy + ATTACH")
    case AlterDropPartition(table, value) =>
      Some(ChDropPartitionCommand(table, value))
    case LightweightDelete(table, pred) =>
      Some(ChAlterMutateCommand(table, pred, Nil))

    case LightweightDeleteBare(_) => throw new UnsupportedOperationException(
      "DELETE FROM needs a WHERE clause (ClickHouse semantics); " +
        "TRUNCATE TABLE t clears everything")
    case LightweightUpdate(table, rest) =>
      val (setPart, predPart) = splitAtTopLevelWhere(rest.trim).getOrElse(
        throw new IllegalArgumentException("UPDATE … SET requires a WHERE clause"))
      Some(ChAlterMutateCommand(table, predPart, parseAssignments(setPart)))
    case ExchangeTablesStmt(a, b) =>
      Some(ChExchangeTablesCommand(a, b))
    case DropTableStmt(ifExists, name) if hasSiblingLayouts(name) =>
      Some(ChDropTableWithSiblingsCommand(name, ifExists != null))
    case AlterAddIndexStmt(table, ifNot, rest) =>
      // validate the vector_similarity args AT PARSE (non-mappable
      // settings refuse before anything executes); non-vector index
      // types refuse inside the command with the parquet-stats story
      if ("""(?is)\bTYPE\s+vector_similarity\b""".r.findFirstIn(rest).isDefined)
        VectorIndex.parseIndexEntry(s"INDEX $rest")
      Some(ChAddVectorIndexCommand(table, s"INDEX $rest", ifNot != null))
    case AlterDropIndexStmt(table, ifExists, name) =>
      Some(ChDropVectorIndexCommand(table, name.stripPrefix("`").stripSuffix("`"), ifExists != null))
    case AlterMaterializeIndexStmt(table, name) =>
      Some(ChMaterializeVectorIndexCommand(table, name.stripPrefix("`").stripSuffix("`")))
    case AlterColumnStmt(table, kind, rest) =>
      Some(ChAlterColumnCommand(table, parseColumnOp(kind, rest)))
    case AlterMutationFull(table, kind, rest) =>
      if ("""(?i)\bIN\s+PARTITION\b""".r.findFirstIn(rest).isDefined)
        throw new UnsupportedOperationException(
          "ALTER … IN PARTITION: fold the partition predicate into WHERE — " +
            "the rewrite prunes to affected partitions from the predicate alone")
      if (kind.equalsIgnoreCase("DELETE")) {
        val pred = """(?is)^WHERE\s+(.*)$""".r.findFirstMatchIn(rest.trim).map(_.group(1))
          .getOrElse(throw new IllegalArgumentException(
            "ALTER TABLE … DELETE requires a WHERE clause"))
        Some(ChAlterMutateCommand(table, pred, Nil))
      } else {
        val (setPart, predPart) = splitAtTopLevelWhere(rest.trim).getOrElse(
          throw new IllegalArgumentException("ALTER TABLE … UPDATE requires a WHERE clause"))
        Some(ChAlterMutateCommand(table, predPart, parseAssignments(setPart)))
      }
    case TruncateIfExists(t) => Some(ChTruncateIfExistsCommand(t))
    case RenameTableStmt(list) =>
      // multi-pair RENAME TABLE a TO b, c TO d (round 11): sequential
      // renames left to right — swap chains (a TO tmp, b TO a, tmp TO
      // b) work; sources are validated up front so the common failure
      // (missing table) aborts before any rename
      val pairs = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
        val m = """(?is)^([\w.]+)\s+TO\s+([\w.]+)$""".r.findFirstMatchIn(p).getOrElse(
          throw new IllegalArgumentException(s"RENAME TABLE: cannot parse pair '$p'"))
        (m.group(1), m.group(2))
      }
      Some(ChRenameTablesCommand(pairs))
    case SystemReloadDicts() => Some(ChSystemCommand(reloadDict = Some(None)))
    case SystemReloadDict(name) =>
      Some(ChSystemCommand(reloadDict = Some(Some(name.stripPrefix("`").stripSuffix("`")))))
    case SystemDropCache(_) => Some(ChSystemCommand(dropCache = true))
    case AddProjectionStmt(table, ine, name, body) =>
      // both forms execute (round 11): aggregate (GROUP BY) and
      // sort-order (SELECT * ORDER BY); the command validates shape
      Some(ChAddProjectionCommand(table,
        name.stripPrefix("`").stripSuffix("`"), body, ine != null))
    case DropProjectionStmt(table, verb, ife, name) =>
      Some(ChDropProjectionCommand(table, name.stripPrefix("`").stripSuffix("`"),
        ifExists = ife != null, clearOnly = verb.equalsIgnoreCase("CLEAR")))
    case MaterializeProjectionStmt(table, name) =>
      Some(ChMaterializeProjectionCommand(table, name.stripPrefix("`").stripSuffix("`")))
    case AlterModifyOrderBy(table, orderExpr) =>
      Some(ChModifyEngineClauseCommand(table, "order_by", Some(orderExpr.trim)))
    case AlterModifySetting(table, assigns) =>
      Some(ChModifySettingsCommand(table, assigns.trim, reset = false))
    case AlterResetSetting(table, names) =>
      Some(ChModifySettingsCommand(table, names.trim, reset = true))
    case AlterModifyTtl(table, rawExpr) =>
      // storage tiering has no single-tier analog; DELETE [WHERE] and
      // GROUP BY … SET rollups execute (round 11)
      if ("""(?i)\b(TO\s+DISK|TO\s+VOLUME|RECOMPRESS)\b""".r.findFirstIn(rawExpr).isDefined)
        throw new UnsupportedOperationException(
          "TTL storage-tiering actions (TO DISK/VOLUME, RECOMPRESS) have no " +
            "single-tier analog here; DELETE [WHERE cond] and GROUP BY … SET execute")
      """(?is)^(.*?)\s+GROUP\s+BY\s+(.*?)\s+SET\s+(.*)$""".r.findFirstMatchIn(rawExpr) match {
        case Some(g) =>
          val keys = g.group(2).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
          val sets = topLevelSplit(g.group(3)).map(_.trim).filter(_.nonEmpty).map { a =>
            val m2 = """(?s)^(`[^`]+`|[\w]+)\s*=\s*(.+)$""".r.findFirstMatchIn(a).getOrElse(
              throw new IllegalArgumentException(
                s"TTL SET assignment '$a' must be column = aggregate(expr)"))
            (m2.group(1).stripPrefix("`").stripSuffix("`"), m2.group(2).trim)
          }
          Some(ChModifyTtlCommand(table, g.group(1).trim, None, keys, sets))
        case None =>
          """(?is)^(.*?)\s+(?:DELETE\s+)?WHERE\s+(.*)$""".r.findFirstMatchIn(rawExpr) match {
            case Some(w) =>
              Some(ChModifyTtlCommand(table, w.group(1).trim, Some(w.group(2).trim)))
            case None =>
              Some(ChModifyTtlCommand(table,
                rawExpr.replaceAll("(?is)\\s+DELETE\\s*$", "").trim))
          }
      }
    case AlterRemoveTtl(table) => Some(ChRemoveTtlCommand(table))
    case AlterMaterializeTtl(table) => Some(ChMaterializeTtlCommand(table))
    case s if CreateDictionary.findFirstIn(s).isDefined =>
      Some(parseCreateDictionary(s))
    case DropDictionary(ifExists, name) =>
      Some(ChDropDictionaryCommand(
        name.stripPrefix("`").stripSuffix("`"), ifExists != null))
    case OptimizeStmt(table, tail) =>
      // PARTITION 'v' scopes the compaction to one directory (the
      // routine "compact yesterday" at 100 TB). PARTITION ID refuses:
      // CH's partition ID is a formatted/hashed form distinct from
      // the VALUE for non-trivial keys, so treating an ID as a value
      // would filter zero rows and silently no-op. Likewise any
      // PARTITION spelling the value regex does not consume
      // (tuple(…), parenthesized) must refuse loudly — falling
      // through would run a FULL-table optimize the user didn't ask
      // for.
      if ("""(?i)\bPARTITION\s+ID\b""".r.findFirstIn(tail).isDefined)
        throw new UnsupportedOperationException(
          "OPTIMIZE … PARTITION ID names ClickHouse's formatted partition id, which this " +
            "layout does not mint; use PARTITION '<value>' with the partition VALUE")
      // bare-word values must not be followed by '(' — that's a
      // function form (tuple('…')) the guard below rejects
      // (?![\w.\-]) forbids stopping mid-token (backtracking would
      // otherwise shrink tuple('x') to a bare 'tupl' match)
      val partRx = """(?is)\bPARTITION\s+('([^']*)'|[\w.\-]+(?![\w.\-])(?!\s*\())""".r
      val partition = partRx.findFirstMatchIn(tail)
        .map(m => Option(m.group(2)).getOrElse(m.group(1)))
      val tail2 = partRx.replaceAllIn(tail, "")
      if ("""(?i)\bPARTITION\b""".r.findFirstIn(tail2).isDefined)
        throw new UnsupportedOperationException(
          "OPTIMIZE … PARTITION: only the PARTITION '<value>' form executes here — " +
            "tuple(…)/parenthesized spellings would otherwise scope wrong; inline the value")
      val dedup = """(?is)\bDEDUPLICATE(\s+BY\s+(.*?))?\s*$""".r.findFirstMatchIn(tail2)
        .map(m => Option(m.group(2)).map(g => topLevelSplit(g).map(_.trim)).getOrElse(Nil))
      Some(ChOptimizeCommand(table, dedup, partition))
    case _ => None
  }

  /** Where the first clause keyword `kw` (`FROM`, `WHERE`, …) outside
    * every paren of `s` starts, or -1 — see [[ChLexer.tree]]. */
  private def topLevel(s: String, kw: String): Int = ChLexer.tree(s).keyword(kw)

  /** Split at the top-level WHERE (assignment RHS may contain
    * parenthesized subqueries with their own WHERE). */
  private def splitAtTopLevelWhere(s: String): Option[(String, String)] = {
    val i = topLevel(s, "WHERE")
    if (i < 0) None else Some((s.substring(0, i).trim, s.substring(i + 5).trim))
  }
  private val AddProjectionStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+PROJECTION\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(`[^`]+`|\w+)\s*\((.*)\)\s*;?\s*$""".r
  private val DropProjectionStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+(DROP|CLEAR)\s+PROJECTION\s+(?:(IF\s+EXISTS)\s+)?(`[^`]+`|\w+)\s*;?\s*$""".r
  private val MaterializeProjectionStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MATERIALIZE\s+PROJECTION\s+(`[^`]+`|\w+)\s*;?\s*$""".r
  private val AlterModifyTtl =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MODIFY\s+TTL\s+(.+?)\s*;?\s*$""".r
  private val AlterModifyOrderBy =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MODIFY\s+ORDER\s+BY\s+(.+?)\s*;?\s*$""".r
  private val AlterModifySetting =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MODIFY\s+SETTING\s+(.+?)\s*;?\s*$""".r
  private val AlterResetSetting =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RESET\s+SETTING\s+(.+?)\s*;?\s*$""".r
  private val AlterRemoveTtl =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+REMOVE\s+TTL\s*;?\s*$""".r
  private val AlterMaterializeTtl =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+MATERIALIZE\s+TTL\s*;?\s*$""".r
  private val CreateDictionary =
    """(?is)^\s*CREATE\s+DICTIONARY\b""".r
  private val DropDictionary =
    """(?is)^\s*DROP\s+DICTIONARY\s+(?:(IF\s+EXISTS)\s+)?(`[^`]+`|[\w.]+)\s*;?\s*$""".r
  private val CreateDictionaryHead =
    """(?is)^\s*CREATE\s+DICTIONARY\s+(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[\w.]+)\s*\(""".r

  /** The body of the paren opening at `open`, outside literals;
    * returns (inner text, close index). */
  private def balancedParen(s: String, open: Int): (String, Int) = {
    val close = ChLexer.tree(s).partnerOf(open)
    if (close < 0) throw new IllegalArgumentException("unbalanced parentheses in DDL")
    (s.substring(open + 1, close), close)
  }

  /** `CREATE DICTIONARY name (attrs…) PRIMARY KEY k SOURCE(KIND(k 'v' …))
    * LAYOUT(NAME()) [LIFETIME(…)]` — executes by registering the
    * dictionary over its source table/file in
    * [[graft.operators.Dictionaries]]; every later `dictGet` becomes
    * the broadcast-join rewrite. LIFETIME is freshness config for a
    * long-lived server cache — here the source re-reads per query
    * plan, which is strictly fresher, so it parses and drops. */
  private[plans] def parseCreateDictionary(sql: String): LogicalPlan = {
    val m = CreateDictionaryHead.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(
        "CREATE DICTIONARY needs: CREATE DICTIONARY name (attrs…) PRIMARY KEY k " +
          "SOURCE(…) LAYOUT(…)"))
    val ifNotExists = m.group(1) != null
    val name = m.group(2).stripPrefix("`").stripSuffix("`")
    val (colsRaw, closeIdx) = balancedParen(sql, m.end - 1)
    val tail = sql.substring(closeIdx + 1)
    val pkM = """(?is)\bPRIMARY\s+KEY\s+([`\w]+(?:\s*,\s*[`\w]+)*)""".r.findFirstMatchIn(tail)
      .getOrElse(throw new IllegalArgumentException("CREATE DICTIONARY requires PRIMARY KEY"))
    val pkCols = pkM.group(1).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
    val layout = """(?is)\bLAYOUT\s*\(\s*(\w+)""".r.findFirstMatchIn(tail)
      .map(_.group(1).toUpperCase).getOrElse("HASHED")
    // COMPLEX_KEY layouts / multi-column PRIMARY KEY register as a
    // composite-key dictionary — lookups pass tuple(k1, k2, …) and
    // the broadcast join keys on every column (layout consistency is
    // CH's own rule: >1 key column requires a COMPLEX_KEY layout)
    if (pkCols.size > 1 && !layout.startsWith("COMPLEX_KEY"))
      throw new IllegalArgumentException(
        s"a ${pkCols.size}-column PRIMARY KEY needs a COMPLEX_KEY layout " +
          s"(got LAYOUT($layout))")
    val srcKw = """(?i)\bSOURCE\s*\(""".r.findFirstMatchIn(tail).getOrElse(
      throw new IllegalArgumentException("CREATE DICTIONARY requires SOURCE(…)"))
    val (srcInner, _) = balancedParen(tail, srcKw.end - 1)
    val srcM = """(?is)^\s*(\w+)\s*\(""".r.findFirstMatchIn(srcInner).getOrElse(
      throw new IllegalArgumentException(s"cannot parse dictionary SOURCE '$srcInner'"))
    val (srcArgsRaw, _) = balancedParen(srcInner, srcM.end - 1)
    val srcProps = """(\w+)\s+'([^']*)'""".r.findAllMatchIn(srcArgsRaw)
      .map(mm => mm.group(1).toUpperCase -> mm.group(2)).toMap
    val entries = topLevelSplit(colsRaw).map(_.trim).filter(_.nonEmpty)
    // dictionary-attribute flags the storage mapper doesn't know;
    // HIERARCHICAL additionally marks the parent-key attribute
    val hierCol = entries.find(e => """(?i)\bHIERARCHICAL\b""".r.findFirstIn(e).isDefined)
      .map(e => """^(`[^`]+`|[A-Za-z_]\w*)""".r.findFirstMatchIn(e).get.group(1)
        .stripPrefix("`").stripSuffix("`"))
    val strippedCols = entries
      .map(_.replaceAll("(?i)\\b(HIERARCHICAL|INJECTIVE|IS_OBJECT_ID)\\b", " "))
      .mkString(", ")
    val cols = chColumnsToSpark(strippedCols)
    for (pk <- pkCols if !cols.exists(_._1 == pk))
      throw new IllegalArgumentException(
        s"PRIMARY KEY $pk must be declared in the dictionary column list")
    if (hierCol.isDefined && pkCols.size != 1)
      throw new UnsupportedOperationException(
        "a HIERARCHICAL dictionary needs a single integral key (CH requires UInt64 there)")
    ChCreateDictionaryCommand(name, pkCols, cols, hierCol,
      srcM.group(1).toUpperCase, srcProps, ifNotExists,
      ddlText = sql.trim.stripSuffix(";").trim)
  }
  private val RenameTableStmt =
    """(?is)^\s*RENAME\s+TABLE\s+(.+?)\s*;?\s*$""".r
  private val TruncateIfExists =
    """(?is)^\s*TRUNCATE\s+TABLE\s+IF\s+EXISTS\s+([\w.]+)\s*;?\s*$""".r
  private val SystemStmt =
    """(?is)^\s*SYSTEM\s+\w+""".r
  // the SYSTEM forms with a real single-engine action (cache/closure
  // invalidation) — everything else refuses above
  private val SystemReloadDicts =
    """(?is)^\s*SYSTEM\s+RELOAD\s+DICTIONARIES\s*;?\s*$""".r
  private val SystemReloadDict =
    """(?is)^\s*SYSTEM\s+RELOAD\s+DICTIONARY\s+(`[^`]+`|[\w.]+)\s*;?\s*$""".r
  private val SystemDropCache =
    """(?is)^\s*SYSTEM\s+DROP\s+(MARK|UNCOMPRESSED|FILESYSTEM|QUERY)\s+CACHE\s*;?\s*$""".r

  /** CH column-list text → (name, Spark DDL type) pairs; shared by the
    * batch CREATE TABLE rewrite and the Kafka-engine streaming DDL. */
  private[graft] def chColumnsToSpark(colsRaw: String): Seq[(String, String)] =
    topLevelSplit(colsRaw).flatMap { entry =>
      val e = entry.trim
      // constraint/index/projection entries have no storage analog
      if (e.isEmpty ||
          """(?is)^(PRIMARY\s+KEY|INDEX|CONSTRAINT|PROJECTION)\b""".r.findFirstIn(e).isDefined) None
      else {
        val m = """(?s)^(`[^`]+`|[A-Za-z_]\w*)\s+(.*)$""".r.findFirstMatchIn(e).getOrElse(
          throw new IllegalArgumentException(s"cannot parse column entry '$e'"))
        // the type runs to the first column attribute keyword
        val typePart = """(?is)\s+(DEFAULT|MATERIALIZED|EPHEMERAL|ALIAS|CODEC|TTL|COMMENT)\b.*$""".r
          .replaceAllIn(m.group(2), "").trim
        Some((m.group(1), chDdlType(typePart)))
      }
    }

  /** ClickHouse CTAS: `CREATE TABLE t ENGINE = X [ORDER BY …]
    * [PARTITION BY …] AS SELECT …` (no column list — the schema
    * comes from the SELECT). Same clause treatment as the column-list
    * form: bare-identifier PARTITION BY keys become PARTITIONED BY,
    * physical-layout hints strip toward MergeTreeWrite. */
  private val ChCreateTableAs =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+ENGINE\s*=\s*[A-Za-z]+(?:\([^)]*\))?\s*(.*?)\s*AS\s+(SELECT\b.*)$""".r

  /** Engine text (name + optional args) of a CH CREATE statement. */
  private val EngineText = """(?is)\bENGINE\s*=\s*([A-Za-z]+(?:\([^)]*\))?)""".r

  /** The FIRST `ENGINE = <Name>[(args)]` outside literals, quoted
    * names and comments — a MergeTree CREATE whose COMMENT mentions
    * 'ENGINE = Kafka' must not steer the Join/Kafka gates. Returns the
    * engine text (name + optional args). */
  private[plans] def engineOf(raw: String): Option[String] =
    EngineText.findFirstMatchIn(ChLexer.blank(raw))
      .map(m => raw.substring(m.start(1), m.end(1)).trim)

  /** Engine NAME (args stripped) from [[engineOf]], lowercased. */
  private[plans] def engineNameOf(raw: String): Option[String] =
    engineOf(raw).map(_.takeWhile(ch => ch.isLetterOrDigit || ch == '_').toLowerCase)

  private val EngineTailKeywords =
    Seq("PARTITION BY", "PRIMARY KEY", "ORDER BY", "SAMPLE BY", "SETTINGS", "TTL", "COMMENT")
  // compiled once: clause-keyword matchers tolerating any whitespace
  // between keyword words (used at offsets via Matcher.region)
  private val EngineTailKwPatterns = EngineTailKeywords.map(k =>
    k -> java.util.regex.Pattern.compile(
      "(?is)" + k.replace(" ", "\\s+") + "(?![\\w])"))

  /** Split a CREATE tail (`ORDER BY k PARTITION BY p TTL …`) into its
    * top-level clauses — paren-aware and blind to literals, quoted
    * names and comments, so expression keys (`ORDER BY (a,
    * cityHash64(b))`) stay whole and a keyword-looking word inside a
    * COMMENT payload is never a clause. Keyword matching tolerates any
    * whitespace between keyword words, and each returned clause BODY
    * is single-spaced outside its literals, which keep their spacing. */
  private[graft] def splitEngineTail(tail: String): Map[String, String] = {
    val tree = ChLexer.tree(tail)
    val code = tree.code
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    def normalized(from: Int, to: Int): String = {
      val sb = new StringBuilder(to - from)
      var pendingSpace = false
      for (i <- from until to) {
        if (code.charAt(i).isWhitespace) pendingSpace = true
        else {
          if (pendingSpace && sb.nonEmpty) sb.append(' ')
          pendingSpace = false
          sb.append(tail.charAt(i))
        }
      }
      sb.toString
    }
    final case class Hit(kw: String, start: Int, bodyStart: Int)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Hit]
    var i = 0
    while (i < code.length) {
      code.charAt(i) match {
        case '(' => val p = tree.partnerOf(i); i = if (p < 0) code.length else p + 1
        case c if c.isLetter && (i == 0 || !isWordChar(code.charAt(i - 1))) =>
          EngineTailKwPatterns.iterator
            .map { case (k, pat) => (k, pat.matcher(code).region(i, code.length)) }
            .find(_._2.lookingAt()) match {
            case Some((k, m)) => hits += Hit(k, i, m.end); i = m.end
            case None => while (i < code.length && isWordChar(code.charAt(i))) i += 1
          }
        case _ => i += 1
      }
    }
    // duplicate clause keywords ('SETTINGS a=1 SETTINGS b=2', two
    // ORDER BY) would silently merge last-wins through toMap where
    // ClickHouse rejects the statement — refuse loudly instead
    val dups = hits.groupBy(_.kw).collect { case (k, v) if v.size > 1 => k }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"duplicate ${dups.mkString(", ")} clause(s) in the CREATE/ENGINE tail — " +
        "ClickHouse rejects repeated clauses; merge them into one")
    hits.toSeq.zipWithIndex.map { case (h, idx) =>
      val end = if (idx + 1 < hits.length) hits(idx + 1).start else tail.length
      h.kw -> normalized(h.bodyStart, end)
    }.toMap
  }

  /** ClickHouse CREATE TABLE (MergeTree family, both column-list and
    * CTAS forms) intercepts into [[ChCreateChTableCommand]]: the
    * rewritten Spark DDL still does the creating, and the clauses the
    * rewrite strips (ENGINE, ORDER BY, SAMPLE BY, SETTINGS, the
    * original PARTITION BY spelling, a declared TTL) persist to the
    * table's [[TableRecord]] for SHOW CREATE TABLE. Join/Kafka
    * engines keep their dedicated paths. */
  private[plans] def interceptChCreate(raw: String, rewritten: String): Option[LogicalPlan] = {
    // gate on the ACTUAL engine (first ENGINE= outside quotes), not a
    // scan of the whole statement — a COMMENT payload mentioning
    // 'ENGINE = Kafka' must not skip the table record
    if (engineNameOf(raw).exists(e => e == "join" || e == "kafka")) return None
    val nameTailCols = raw match {
      // CTAS: carry the SELECT so the command records its analyzed
      // output order as the record's declared columns
      case ChCreateTableAs(_, name, tail, select) =>
        Some((name, tail, Nil, Nil, Nil, Some(select)))
      case ChCreateTable(_, name, colsRaw, tail) =>
        // declared column ORDER (Spark's catalog floats partition
        // columns to the end; SHOW CREATE restores the CH order)
        val declared = chColumnsToSpark(colsRaw)
          .map(_._1.stripPrefix("`").stripSuffix("`"))
        // PROJECTION entries declared in the CREATE body (CH's own
        // SHOW CREATE emits them there): executed as ADD PROJECTION
        // after the create, so CREATE-declared projections are
        // first-class — and SHOW CREATE's output is re-executable
        val projections = topLevelSplit(colsRaw).map(_.trim).flatMap { e =>
          """(?is)^PROJECTION\s+(`[^`]+`|[A-Za-z_]\w*)\s*\((.*)\)\s*$""".r
            .findFirstMatchIn(e)
            .map(m => (m.group(1).stripPrefix("`").stripSuffix("`"), m.group(2).trim))
        }
        // vector_similarity INDEX entries declared in the CREATE body
        // (round 19): validated AT PARSE (non-mappable settings refuse
        // before the table exists), declared after the create. Other
        // INDEX types (skip indexes) strip as before — parquet
        // row-group stats play their role on every scan.
        val vectorIndexes = topLevelSplit(colsRaw).map(_.trim).flatMap { e =>
          if ("""(?is)^INDEX\b.*\bTYPE\s+vector_similarity\b""".r.findFirstIn(e).isDefined)
            VectorIndex.parseIndexEntry(e)
          else None
        }
        Some((name, tail, declared, projections, vectorIndexes, None))
      case _ => None
    }
    nameTailCols.map { case (name, tail, declared, projections, vectorIndexes, ctasSelect) =>
      val engine = engineOf(raw).getOrElse("MergeTree")
      ChCreateChTableCommand(name, rewritten, engine, splitEngineTail(tail), declared,
        projections, ctasSelect, vectorIndexes)
    }
  }

  private def partitionedByClause(tail: String): String =
    """(?is)\bPARTITION\s+BY\s+(\([^)]*\)|\S+)""".r
      .findFirstMatchIn(tail).map(_.group(1)) match {
      case Some(p) =>
        val keys = p.stripPrefix("(").stripSuffix(")").split(",").map(_.trim)
        if (keys.nonEmpty && keys.forall(_.matches("[A-Za-z_]\\w*")))
          s" PARTITIONED BY (${keys.mkString(", ")})"
        else ""
      case None => ""
    }

  // a Join engine survives both rewrites to interceptCommand →
  // ChCreateJoinTableCommand
  private def rewriteChCreateTableAs(sql: String): String = sql match {
    case ChCreateTableAs(ifNot, name, tail, select) => engineNameOf(sql) match {
      case Some("join") => sql
      case Some("kafka") => throw new UnsupportedOperationException(
        "ENGINE = Kafka declares a streaming queue; drive it with graft.streaming.KafkaEngine")
      case _ =>
        val ine = if (ifNot == null) "" else "IF NOT EXISTS "
        s"CREATE TABLE $ine$name USING parquet${partitionedByClause(tail)} AS $select"
    }
    case _ => sql
  }

  private def rewriteChCreateTable(sql: String): String = sql match {
    case ChCreateTable(ifNot, name, colsRaw, tail) => engineNameOf(sql) match {
      case Some("join") => sql
      case Some("kafka") => throw new UnsupportedOperationException(
        "ENGINE = Kafka declares a streaming queue, not a batch table; drive it with " +
          "graft.streaming.KafkaEngine.fromDdl (readStream source + MV chain — " +
          "file-directory stand-in locally, kafka connector format on a cluster)")
      case _ =>
        val cols = chColumnsToSpark(colsRaw).map { case (n, t) => s"$n $t" }
        // only bare columns translate; expression keys (toYYYYMM…)
        // need the MergeTreeWrite path and strip here
        val partitioned = partitionedByClause(tail)
        val ine = if (ifNot == null) "" else "IF NOT EXISTS "
        s"CREATE TABLE $ine$name (${cols.mkString(", ")}) USING parquet$partitioned"
    }
    case _ => sql
  }

  /** [[chDdlType]] for the command layer (ChAlterColumnCommand). */
  private[plans] def chDdlTypeOf(t: String): String = chDdlType(t)

  /** ClickHouse type text → Spark DDL type (recursive over the
    * container types). */
  /** `name Type` inside Tuple(...)/Nested(...) DDL — one pattern so
    * the two field parsers cannot drift. */
  private val DdlFieldEntry = """(?s)^(`[^`]+`|[A-Za-z_]\w*)\s+(.+)$""".r

  private def chDdlType(t0: String): String = {
    val t = t0.trim
    def inner(prefix: String): String =
      t.substring(prefix.length).trim.stripPrefix("(").stripSuffix(")").trim
    val lower = t.toLowerCase
    if (lower.startsWith("nullable(")) chDdlType(inner("nullable"))
    else if (lower.startsWith("lowcardinality(")) chDdlType(inner("lowcardinality"))
    else if (lower.startsWith("simpleaggregatefunction(")) {
      val args = topLevelSplit(inner("simpleaggregatefunction"))
      chDdlType(args.last)
    } else if (lower.startsWith("array(")) s"ARRAY<${chDdlType(inner("array"))}>"
    else if (lower.startsWith("map(")) {
      val args = topLevelSplit(inner("map"))
      s"MAP<${chDdlType(args(0))}, ${chDdlType(args(1))}>"
    } else if (lower.startsWith("tuple(")) {
      val args = topLevelSplit(inner("tuple"))
      val fields = args.zipWithIndex.map { case (a, i) =>
        DdlFieldEntry.findFirstMatchIn(a.trim) match {
          case Some(m) => s"${m.group(1)}: ${chDdlType(m.group(2))}"
          case None    => s"_${i + 1}: ${chDdlType(a)}"
        }
      }
      s"STRUCT<${fields.mkString(", ")}>"
    } else if (lower.startsWith("nested(")) {
      // CH Nested = parallel per-field arrays zipped positionally; the
      // Spark-idiomatic carrier is ONE array of structs — `n.field`
      // still answers the per-field array (Spark extracts a field
      // across an array of structs), and an alias-less ARRAY JOIN n
      // explodes the lockstep rows exactly like CH
      val args = topLevelSplit(inner("nested"))
      val fields = args.map { a =>
        DdlFieldEntry.findFirstMatchIn(a.trim) match {
          case Some(m) => s"${m.group(1)}: ${chDdlType(m.group(2))}"
          case None => throw new IllegalArgumentException(
            s"Nested entries need 'name Type': '$a'")
        }
      }
      s"ARRAY<STRUCT<${fields.mkString(", ")}>>"
    } else if (lower.startsWith("fixedstring")) "STRING"
    else if (lower.startsWith("enum")) "STRING"
    else if (lower.startsWith("datetime64") || lower.startsWith("datetime")) "TIMESTAMP"
    else if (lower.startsWith("decimal32")) s"DECIMAL(9, ${inner("decimal32")})"
    else if (lower.startsWith("decimal64")) s"DECIMAL(18, ${inner("decimal64")})"
    else if (lower.startsWith("decimal128")) s"DECIMAL(38, ${inner("decimal128")})"
    else if (lower.startsWith("decimal(")) s"DECIMAL(${inner("decimal")})"
    else lower match {
      case "string" | "uuid" | "json" => "STRING"
      case "bool" | "boolean" => "BOOLEAN"
      case "date" | "date32"  => "DATE"
      case "ipv4" => "BIGINT"
      case "ipv6" => "BINARY"
      case "int128" | "int256" | "uint128" | "uint256" => "DECIMAL(38, 0)"
      case other => ChTypeMap.getOrElse(other,
        throw new IllegalArgumentException(s"unsupported ClickHouse DDL type '$t0'"))
    }
  }

  /** Split on commas outside parentheses, literals, quoted names and
    * comments; blank pieces drop. */
  private[plans] def topLevelSplit(s: String): Seq[String] = {
    val cuts = -1 +: ChLexer.tree(s).commas :+ s.length
    cuts.indices.tail.map(k => s.substring(cuts(k - 1) + 1, cuts(k))).filter(_.trim.nonEmpty)
  }

  /** `* EXCEPT col` (the paren-free single-column CH spelling) →
    * Spark's `* EXCEPT (col)`. Keyword lookahead keeps set-operation
    * EXCEPT untouched (a set-op EXCEPT never directly follows `*`
    * anyway — a bare `SELECT *` has no FROM — but belt and braces). */
  private val BareStarExcept =
    """\*\s+EXCEPT\s+(?!ALL\b|DISTINCT\b|SELECT\b|\()([A-Za-z_]\w*)\b""".r

  /** `* REPLACE (expr AS col, …)` → `* EXCEPT (cols…), expr AS col,
    * …`. The replaced columns move to the end of the select list —
    * a documented positional deviation (Spark's star has no in-place
    * replace); values are identical. Paren-aware split so exprs may
    * contain calls. */
  private val StarReplace = """(?is)\*\s+REPLACE\s*\(""".r
  private def rewriteStarReplace(sql: String): String = {
    val m = StarReplace.findFirstMatchIn(sql).getOrElse(return sql)
    val close = ChLexer.tree(sql).partnerOf(m.end - 1)
    if (close < 0) return sql
    val AsCol = """(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$""".r
    val pairs = topLevelSplit(sql.substring(m.end, close)).map(_.trim).map {
      case AsCol(expr, col) => (expr, col)
      case other => throw new IllegalArgumentException(
        s"* REPLACE entries must be 'expr AS col', got '$other'")
    }
    val cols = pairs.map(_._2).mkString(", ")
    val repl = pairs.map { case (e, c) => s"$e AS $c" }.mkString(", ")
    val rewritten = sql.substring(0, m.start) + s"* EXCEPT ($cols), $repl" + sql.substring(close + 1)
    rewriteStarReplace(rewritten) // handle further occurrences
  }

  /** The same CH type names after the `::` cast operator
    * (`1 :: Int64`); Spark's grammar owns `::` itself, only the type
    * word rewrites. */
  private val ChTypeColonCast =
    """(?i)(::\s*)(UInt8|UInt16|UInt32|UInt64|Int8|Int16|Int32|Int64|Int128|Int256|UInt128|UInt256|Float32|Float64|DateTime64|DateTime|Date32)\b""".r

  private def rewriteChTypes(sql: String): String = {
    var out = NullableCast.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}${m.group(2)}"))
    out = LowCardCast.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}STRING"))
    out = FixedStrCast.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}STRING"))
    out = EnumCast.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}STRING"))
    out = ChTypeCast.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}${ChTypeMap(m.group(2).toLowerCase)}"))
    ChTypeColonCast.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}${ChTypeMap(m.group(2).toLowerCase)}"))
  }

  /** ClickHouse scalar WITH: `WITH <expr> AS <ident>, … SELECT …`
    * names a per-query constant (not a CTE — those parenthesize a
    * SELECT). Spark has no equivalent form, so each ident substitutes
    * as `(expr)` throughout the SELECT body, word-bounded. Applies
    * ONLY when no definition contains a SELECT: real CTEs (and the
    * unsupported scalar-subquery WITH) pass through untouched and
    * parse on their own merits, never silently wrong. Caveat: a BARE
    * ident as a select item surfaces under the substituted
    * expression's derived name, not the ident (ClickHouse keeps the
    * ident) — alias explicitly when the output name matters, as
    * migrated queries do. */
  private val WithConstant = """(?is)^\s*WITH\s+(.+?)\s+(SELECT\b.*)$""".r

  private def rewriteWithConstants(sql: String): String = sql match {
    case WithConstant(defs, rest) if !defs.toUpperCase.contains("SELECT") =>
      val pairs = topLevelSplit(defs).map {
        case ArrayJoinPair(e, a) => Some((e.trim, a))
        case _                   => None
      }
      if (pairs.exists(_.isEmpty)) sql
      else pairs.flatten.foldLeft(rest) { case (acc, (expr, ident)) =>
        ("""\b""" + ident + """\b""").r
          .replaceAllIn(acc, scala.util.matching.Regex.quoteReplacement(s"($expr)"))
      }
    case _ => sql
  }

  /** ClickHouse positional tuple access `t.1` → `.col1` (the default
    * field names of tuple()/`(a, b)` structs). Guarded to follow a
    * letter/underscore/`)`/`]` so decimal literals (digit before the
    * dot) never match. Whole chains (`.2.1`) match at once — each
    * index becomes a default-named struct field step. */
  private val TupleDotAccess = """(?<=[A-Za-z_)\]])((?:\.\d+)+)(?!\d)""".r
  private def rewriteTupleDot(sql: String): String =
    TupleDotAccess.replaceAllIn(sql, m =>
      m.group(1).split("\\.").filter(_.nonEmpty).map("col" + _).mkString(".", ".", ""))

  /** ClickHouse named query parameters — `{start_date:String}`,
    * `{n:UInt64}`, `{xs:Array(String)}` (the corpus' client-side
    * binding shape, /root/reference/src/corpus/orm_none.txt:432-437)
    * — become Spark named parameter markers `:start_date`, bound by
    * `spark.sql(text, args)`. The declared ClickHouse type is dropped:
    * Spark types the parameter from the bound value and its normal
    * coercions (e.g. a String date against a DATE column) mirror
    * ClickHouse's cast-on-bind. */
  private val NamedParam = """\{(\w+)\s*:\s*[A-Za-z0-9]+(?:\([^{}]*\))?\}""".r

  /** ClickHouse `SAMPLE k` (fraction form, 0 < k < 1). A table with a
    * registered sample key ([[graft.operators.Sampling.registerSampleBy]]
    * — the analog of CH's table-level `SAMPLE BY` DDL) rewrites to the
    * deterministic content-addressed bucket filter (md5 leading-byte
    * < k·256), reproducible across engines and partition layouts and
    * therefore oracle-able. Tables without a key fall back to Spark
    * `TABLESAMPLE (k*100 PERCENT)` — both sides nondeterministic
    * storage-level samples, semantically exact. The row-count form
    * (`SAMPLE 10000`) has no Spark analog and is left for the parser
    * to reject loudly. */
  private val SampleOffsetByTable =
    """(?i)\bFROM\s+([A-Za-z_]\w*)\s+SAMPLE\s+(0?\.\d+)\s+OFFSET\s+(0?\.\d+)""".r
  private val SampleByTable = """(?i)\bFROM\s+([A-Za-z_]\w*)\s+SAMPLE\s+(0?\.\d+)""".r
  private val SampleClause = """(?i)\bSAMPLE\s+(0?\.\d+)""".r

  private def bucketPredicate(key: String, loBucket: Int, hiBucket: Int): String = {
    val b = s"CAST(conv(substring(md5(CAST(($key) AS BINARY)), 1, 2), 16, 10) AS INT)"
    if (loBucket <= 0) s"$b < $hiBucket" else s"$b >= $loBucket AND $b < $hiBucket"
  }

  private def rewriteSample(sql: String): String = {
    // SAMPLE k OFFSET m (CH's disjoint-slice form — e.g. two pipelines
    // splitting one table): bucket ∈ [m·256, (m+k)·256). Only the
    // deterministic keyed path exists; TABLESAMPLE has no offset, so a
    // keyless table passes through and fails loudly at parse.
    val sliced = SampleOffsetByTable.replaceAllIn(sql, m => {
      val (tbl, frac, off) = (m.group(1), m.group(2).toDouble, m.group(3).toDouble)
      scala.util.matching.Regex.quoteReplacement(
        graft.operators.Sampling.sampleKeyFor(tbl) match {
          case Some(key) =>
            val (lo, hi) = ((off * 256).round.toInt, ((off + frac) * 256).round.toInt)
            s"FROM (SELECT * FROM $tbl WHERE ${bucketPredicate(key, lo, hi)}) $tbl"
          case None => m.matched
        })
    })
    val keyed = SampleByTable.replaceAllIn(sliced, m => {
      val (tbl, frac) = (m.group(1), m.group(2).toDouble)
      scala.util.matching.Regex.quoteReplacement(
        graft.operators.Sampling.sampleKeyFor(tbl) match {
          case Some(key) =>
            s"FROM (SELECT * FROM $tbl WHERE ${bucketPredicate(key, 0, (frac * 256).round.toInt)}) $tbl"
          case None => s"FROM $tbl TABLESAMPLE (${frac * 100} PERCENT)"
        })
    })
    // non-`FROM ident`-shaped occurrences (subquery sources): plain
    // TABLESAMPLE mapping as before
    SampleClause.replaceAllIn(keyed, m =>
      s"TABLESAMPLE (${m.group(1).toDouble * 100} PERCENT)")
  }

  /** ClickHouse `FROM numbers(N)` / `numbers(start, count)` (the
    * system.numbers table function) → Spark's `range`, aliased to
    * CH's column name `number`. */
  private val NumbersFn = """(?i)\bFROM\s+numbers\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r

  /** `FROM generate_series(start, stop[, step])` / generateSeries —
    * CH's inclusive-stop series generator; the output column is named
    * `generate_series` (both spellings), as in ClickHouse. */
  private val GenerateSeriesFn =
    """(?i)\bFROM\s+(generate_series|generateSeries)\s*\(\s*(\d+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r

  /** `FROM system.numbers LIMIT n [OFFSET m]` / `LIMIT m, n` — the
    * unbounded generator is only meaningful with its LIMIT, which
    * (with any offset) becomes the range bounds. Both the OFFSET and
    * the comma form are consumed so they cannot double-apply to the
    * already-bounded range. `system.one` is the dual of DUAL. */
  private val SystemNumbersOffset =
    """(?i)\bFROM\s+system\.numbers\s+LIMIT\s+(\d+)\s+OFFSET\s+(\d+)""".r
  private val SystemNumbersComma =
    """(?i)\bFROM\s+system\.numbers\s+LIMIT\s+(\d+)\s*,\s*(\d+)""".r
  private val SystemNumbers =
    """(?i)\bFROM\s+system\.numbers\s+LIMIT\s+(\d+)""".r
  private val SystemOne = """(?i)\bFROM\s+system\.one\b""".r

  /** `system.tables` / `system.columns` / `system.databases` — the
    * introspection surface BI tools and migrated apps query
    * constantly. Rewritten to an inline VALUES snapshot of the
    * session catalog taken AT PARSE TIME (the natural analog of CH
    * reading its own metadata tables; a snapshot is exactly what a
    * SELECT over them observes anyway). Engines report as the CH
    * names this front-end models: MergeTree for stored tables, View
    * for views/temp views. Column types map back to CH spellings for
    * the common scalar/array cases, passing through Spark's name
    * where no CH analog exists. */
  private[plans] def chTypeNameOf(t: String): String = {
    val s = t.trim
    val l = s.toLowerCase
    if (l.startsWith("array<") && l.endsWith(">"))
      "Array(" + chTypeNameOf(s.substring(6, s.length - 1)) + ")"
    else if (l.startsWith("decimal(")) "Decimal" + s.substring(7)
    else l match {
      case "bigint" | "long" => "Int64"
      case "int" | "integer" => "Int32"
      case "smallint" | "short" => "Int16"
      case "tinyint" | "byte" => "Int8"
      case "double" => "Float64"
      case "float" | "real" => "Float32"
      case "string" | "varchar" | "binary" => "String"
      case "date" => "Date"
      case "timestamp" | "timestamp_ltz" | "timestamp_ntz" => "DateTime64(6)"
      case "boolean" => "Bool"
      case _ => s
    }
  }

  /** ClickHouse `FROM zeros(N)` (the constant-0 generator table) —
    * same range rewrite, column name `zero`. */
  private val ZerosFn = """(?i)\bFROM\s+zeros\s*\(\s*(\d+)\s*\)""".r

  /** ClickHouse `FROM table FINAL` (ReplacingMergeTree collapse at
    * read time) → `FROM table_final`, the engine's convention for the
    * latest-row-per-key view that
    * [[graft.operators.Replicate.registerWithFinal]] registers
    * alongside the raw table. A FINAL on a table registered without
    * the companion view fails loudly at analysis (unknown relation). */
  private val FromFinal = """(?i)\bFROM\s+([A-Za-z_]\w*)\s+FINAL\b""".r

  /** ClickHouse `FROM t [LEFT] ARRAY JOIN item1[, item2, …]` where an
    * item is `expr AS alias` (adds a new column) or, round 16, a BARE
    * column ident — CH's most common spelling, where the element
    * SHADOWS the array column (Nested explodes this way). ARRAY JOIN
    * with several arrays ZIPS them positionally (never a cross
    * product): one subquery (aliased back to the table name so
    * qualified outer references keep resolving) posexplodes the first
    * item, every further item is the positional element of its own
    * array (`try_element_at`, 1-based, guarded so unequal sizes raise
    * like CH's SIZES_OF_ARRAYS_DONT_MATCH), and `* EXCEPT` hides the
    * shadowed columns and the gr_* helpers from star output.
    * `LEFT ARRAY JOIN` keeps empty-array rows via LATERAL VIEW OUTER —
    * Spark surfaces NULL elements where ClickHouse manufactures
    * default values (0/''), the grouping-null-style difference
    * documented for WITH TOTALS too; star output appends
    * shadowed/added columns at the END rather than CH's in-place
    * position. Matched subset: a named FROM table, `expr AS alias`
    * pairs (parens one level deep, commas inside parens protected)
    * and bare idents; anything else — an alias-less expression, a
    * subquery source — passes through and fails loudly at parse,
    * never silently wrong. */
  private val ArrayJoinClause =
    ("""(?is)\bFROM\s+([A-Za-z_]\w*)\s+(LEFT\s+)?ARRAY\s+JOIN\s+""" +
     """((?:'[^']*'|\([^()]*\)|[^(),;])+?(?:,(?:'[^']*'|\([^()]*\)|[^(),;])+?)*)""" +
     """(?=\s+(?:WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|SETTINGS)\b|\s*;?\s*$|\s*\))""").r

  private val ArrayJoinPair = """(?is)^\s*(.+?)\s+AS\s+([A-Za-z_]\w*)\s*$""".r

  /** ClickHouse `ORDER BY col WITH FILL FROM a TO b [STEP s]` —
    * supported subset: the query's LAST clause, integer bounds/step, a
    * fill column that is a named output of the select list. Rewritten
    * to an integer-sequence axis FULL OUTER JOINed with the original
    * query: grid points missing from the result appear with the other
    * columns coalesced to 0 (ClickHouse's numeric default-fill), and
    * off-grid source rows survive, exactly CH's behavior. TO is
    * exclusive, as in ClickHouse. `INTERPOLATE (c1, c2)` — the bare
    * carry-forward form — fills those columns from the nearest
    * preceding source row instead of 0 (last_value ignore-nulls over
    * the fill order). `INTERPOLATE (c AS expr)` executes for the
    * common carry family (round 15): `c AS c` (explicit carry) and
    * the affine recurrence `c AS c ± k` (numeric literal k), CH's
    * running-counter/timestamp spelling — each filled row applies the
    * step to the PREVIOUS row's value, so a run of filled rows ramps
    * from the last source value (last source + k × rows-since-source;
    * before the first source row the 0 default applies, as for the
    * bare form). Anything outside the subset — CTE prefix, expression
    * bounds, non-affine AS-expressions — passes through untouched and
    * fails loudly at parse, never silently wrong.
    *
    * Round 16: Date/DateTime axes. Bounds may be `toDate('…')`,
    * `toDateTime('…')`, ANSI `DATE '…'`/`TIMESTAMP '…'` or a bare
    * date-shaped string literal, and STEP takes the ClickHouse
    * `INTERVAL n DAY/WEEK/MONTH/QUARTER/YEAR/HOUR/MINUTE/SECOND`
    * spelling — the axis generates with Spark's native
    * sequence(date, date, interval) (TRUE calendar month arithmetic,
    * never a 30-day approximation), TO stays exclusive via a
    * `< TO` filter on the generated grid. A bare integer STEP on a
    * Date axis means days, on a DateTime axis seconds (CH's own
    * unit conventions); QUARTER lowers to 3n MONTH (Spark intervals
    * have no quarter unit). Mixed bound kinds (int FROM, date TO)
    * refuse by pass-through.
    *
    * BOUND-LESS form (round 16): `ORDER BY c WITH FILL [STEP s]` with
    * no FROM/TO — CH's most common dashboard spelling — derives both
    * bounds from the RESULT's own min/max of the fill column (a CTE
    * so the source evaluates once per side of the join, and the max
    * is INCLUSIVE: it is an existing row). STEP omitted lets Spark's
    * sequence() pick the type default (1 for integers, 1 day for
    * dates).
    *
    * HALF-BOUNDED forms (round 16): `WITH FILL FROM a [STEP s]`
    * derives TO from the data's max (INCLUSIVE — it is an existing
    * row, CH's to-omitted convention), `WITH FILL TO b [STEP s]`
    * derives FROM from the data's min; the literal bound fixes the
    * axis kind and a data column of a different type fails loudly in
    * sequence() at analysis. A FROM beyond the data's max (or TO at
    * or below the min) fills nothing — source rows pass through, as
    * in CH. Negative steps refuse by pass-through in the half forms
    * (they would invert the data-derived guard).
    *
    * STALENESS form (round 16, CH 24.10+): `WITH FILL [STEP s]
    * STALENESS k` — instead of bridging every gap to the next source
    * row, each SOURCE row spawns a bounded trailing run: fill values
    * v+s, v+2s, … while < min(v+k, next source value); the LAST row's
    * run extends to v+k (exclusive) even with no successor — CH's
    * sensor-series shape, where an outage longer than k is left as a
    * hole rather than bridged. Integer axes with a positive
    * bare-integer (or omitted → 1) STEP; k must be positive. CH
    * rejects STALENESS combined with FROM/TO — here those spellings
    * and INTERVAL step spellings refuse by pass-through at parse; a
    * date/timestamp fill COLUMN is unknowable at parse and fails
    * loudly at analysis instead (sequence() rejects a bare-int step
    * on a date axis). The axis is a UNION ALL of source rows and
    * per-row fill runs — never a join (fill values never collide
    * with source values). Composes with the grouped prefix (runs
    * restart per category, lead() partitioned) and with INTERPOLATE
    * (the carry/affine windows operate on the union unchanged).
    *
    * DESC form (round 16): `ORDER BY c DESC WITH FILL [FROM a] [TO b]
    * [STEP -n]` — CH's latest-first series. Integer axes only: a
    * descending date grid would need negative INTERVAL spellings the
    * STEP regex doesn't carry, so bounded forms with a date literal
    * refuse by pass-through and the BOUND-LESS form (whose axis kind
    * is unknowable at parse) fails loudly at analysis on a date
    * column, like the staleness form. The step defaults to -1 and a
    * literal step must be negative (CH rejects a sign mismatch with
    * the sort direction); TO stays exclusive DOWNWARD (fills stop
    * above it), data-derived bounds mirror (FROM-only runs down to
    * the min, TO-only starts at the max), and the INTERPOLATE
    * windows follow the OUTPUT order so a carry reads the previous
    * result row, CH's own convention. Literal bounds with FROM at or
    * below TO fill NOTHING (empty grid, source rows pass through —
    * CH's behavior, mirrored for ASC with FROM at or above TO);
    * STALENESS + DESC refuses.
    *
    * GROUPED form (round 16): `ORDER BY p1, …, pk, c WITH FILL` —
    * the fill column is the LAST sort key and the fill restarts per
    * distinct value of the preceding plain named-output keys, CH's
    * per-category series shape. Literal bounds grid CROSS JOINs the
    * distinct prefix; data-derived bounds compute PER GROUP (each
    * category fills its own min→max). Prefix equality in the axis
    * join is null-safe, the INTERPOLATE windows partition by the
    * prefix, and a prefix column cannot itself be interpolated
    * (refuses by pass-through). Prefix keys with ASC/DESC modifiers
    * or expression keys stay unsupported → pass-through. */
  private val WithFill =
    """(?is)^\s*SELECT\b(.*\S)\s+ORDER\s+BY\s+((?:\w+\s*,\s*)*)(\w+)(?:\s+(ASC|DESC))?\s+WITH\s+FILL(?:\s+FROM\s+(.+?))?(?:\s+TO\s+(.+?))?(?:\s+STEP\s+(INTERVAL\s+\d+\s+[A-Za-z]+|-?\d+))?(?:\s+STALENESS\s+(INTERVAL\s+\d+\s+[A-Za-z]+|-?\d+))?(?:\s+INTERPOLATE\s*\(([^()]*)\))?\s*;?\s*$""".r

  // MULTI-KEY fill semantics (round 17): `ORDER BY a WITH FILL [b1],
  // b WITH FILL [b2], … [INTERPOLATE (…)]`. ClickHouse's semantics
  // here are NOT a cartesian grid (a common misreading): the docs'
  // own example (`ORDER BY d2 WITH FILL, d1 WITH FILL STEP 5` over
  // numbers(10) WHERE number % 3 = 1) shows the FIRST key filling
  // over its range with every other column — including the second
  // fill key — taking the type default, and the SECOND key filling
  // only within runs of equal first-key values ("d1 doesn't fill …
  // because we don't have repeated values for d2"). That is exactly a
  // composition of grouped single-key fills — see rewriteMultiFill.

  /** The bound-less form's STEP argument: INTERVAL spellings lower as
    * usual (quarter → 3n month), a bare integer passes through,
    * absent omits the argument (sequence()'s type default — 1 for
    * integers, 1 day for dates). The axis kind is the fill column's
    * own type — unknown at parse, resolved by sequence() at analysis,
    * failing loudly on a mismatch. */
  /** A bare-integer step literal for the ASCENDING fill forms: in
    * Long range and POSITIVE. CH rejects `STEP 0`; a negative step
    * belongs to the DESC sort-key spelling, which resolves through
    * rewriteWithFill's own descStep (negative-only) — in an ASC form
    * it refuses by pass-through instead of computing a wrong
    * exclusive bound. An overflowing literal refuses at parse rather
    * than crashing it. */
  private def intStep(s: String): Option[String] =
    if (!s.matches("-?\\d+")) None
    else scala.util.Try(s.toLong).toOption.filter(_ > 0L).map(_ => s)

  private def boundlessStep(stepOrNull: String): Option[String] =
    Option(stepOrNull).map(_.trim) match {
      case None => Some("")
      case Some(FillIntervalStep(n, u)) => lowerInterval(n, u).map(iv => s", $iv")
      case Some(s) => intStep(s).map(v => s", $v")
    }

  /** One home for the INTERVAL-step lowering (quarter → 3n month,
    * unit whitelist) — boundlessStep and fillStep both consume it, so
    * a unit addition or lowering fix cannot diverge between the
    * bound-less and bounded forms. */
  private def lowerInterval(n: String, unit: String): Option[String] = {
    val units = Set("second", "minute", "hour", "day", "week", "month", "year")
    val ul = unit.toLowerCase
    // nonzero, bounded (CH rejects zero steps; Int.MaxValue keeps the
    // quarter ×3 lowering and Spark's interval literal both in range)
    val nv = scala.util.Try(n.toLong).toOption.filter(v => v > 0 && v <= Int.MaxValue)
    if (nv.isEmpty) None
    else if (ul == "quarter") Some(s"interval ${nv.get * 3} month")
    else if (units.contains(ul)) Some(s"interval $n $ul")
    else None
  }

  /** Classify one WITH FILL bound → (spark expr, kind) where kind ∈
    * int | date | ts. Date-shaped literals are validated
    * (`yyyy-MM-dd[ HH:mm:ss[.f…]]`) so a typo refuses at parse via
    * pass-through rather than landing a NULL axis. */
  private def fillBound(raw: String, lx: ChLexer.Masked): Option[(String, String)] = {
    val t = raw.trim
    val DateLit = """^\d{4}-\d{2}-\d{2}$""".r
    val TsLit = """^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(?:\.\d+)?$""".r
    def lit(l: String, wantTs: Boolean): Option[(String, String)] = l match {
      case DateLit() if !wantTs => Some((s"DATE '$l'", "date"))
      case DateLit()            => Some((s"TIMESTAMP '$l 00:00:00'", "ts"))
      case TsLit()              => Some((s"TIMESTAMP '$l'", "ts"))
      case _                    => None
    }
    if (t.matches("-?\\d+")) Some((t, "int"))
    else {
      val ToDateFn = """(?is)^toDate\s*\(\s*'([^']*)'\s*\)$""".r
      val ToDateTimeFn = """(?is)^toDateTime(?:64)?\s*\(\s*'([^']*)'\s*\)$""".r
      val AnsiDate = """(?is)^DATE\s+'([^']*)'$""".r
      val AnsiTs = """(?is)^TIMESTAMP\s+'([^']*)'$""".r
      val Bare = """(?s)^'([^']*)'$""".r
      t match {
        case ToDateFn(l)     => lit(lx.body(l), wantTs = false)
        case ToDateTimeFn(l) => lit(lx.body(l), wantTs = true)
        case AnsiDate(l)     => lit(lx.body(l), wantTs = false)
        case AnsiTs(l)       => lit(lx.body(l), wantTs = true)
        case Bare(l)         => val v = lx.body(l); lit(v, wantTs = v.contains(":"))
        case _               => None
      }
    }
  }

  private val FillIntervalStep = """(?is)^INTERVAL\s+(\d+)\s+([A-Za-z]+)$""".r

  /** Resolve the STEP spelling against the axis kind; None refuses. */
  private def fillStep(stepOrNull: String, kind: String): Option[String] =
    (Option(stepOrNull).map(_.trim), kind) match {
      case (None, "int")                                 => Some("1")
      case (Some(s), "int") if s.matches("-?\\d+")       => intStep(s)
      case (None, "date")                                => Some("interval 1 day")
      case (None, "ts")                                  => Some("interval 1 second")
      case (Some(s), "date") if s.matches("\\d+")        => intStep(s).map(v => s"interval $v day")
      case (Some(s), "ts") if s.matches("\\d+")          => intStep(s).map(v => s"interval $v second")
      case (Some(FillIntervalStep(n, u)), k) if k != "int" => lowerInterval(n, u)
      case _ => None
    }

  /** ClickHouse `ASOF [LEFT] JOIN` — the nearest-match temporal join
    * — rewritten to the SCALE-SAFE union+window shape of
    * [[graft.operators.AsofJoin]] (round 12; the round-5 form was a
    * LATERAL `ORDER BY … LIMIT 1`, which Catalyst decorrelates into
    * a nested-loop DOMAIN join — O(probes × right) at scale):
    *
    *  1. UNION ALL the right rows (payload as `struct(right.*)`,
    *     side 0) with the DISTINCT probe (key, time) markers
    *     (side 1, NULL payload);
    *  2. one key-partitioned window ordered by (time, side) carries
    *     `last(payload, ignoreNulls)` onto every probe marker —
    *     side order at equal times encodes inclusive (right first)
    *     vs strict (probe first), time direction encodes
    *     latest-before (≥/>) vs earliest-after (≤/<);
    *  3. equi-join the probe table back on (key, time).
    *
    * Cost: one shuffle on the key for the window + one equi shuffle
    * for the re-join — no inequality ever reaches a join condition,
    * so the plan audit shows hash/merge joins only.
    *
    * Supported subset, everything else passing through to fail
    * loudly on the ASOF token: named tables with aliases, ON as a
    * top-level AND list of ≥1 equalities (each side referencing
    * exactly one alias) plus exactly ONE inequality. Ties at equal
    * right timestamps are CH-unspecified; dedupe the right side per
    * (key, time) first for determinism, as q93b does.
    * [[graft.operators.AsofJoin]] remains the DataFrame-first
    * path — this rewrite serves migrated SQL text. */
  private val AsofJoinClause =
    ("""(?is)\bFROM\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ASOF\s+(LEFT\s+)?JOIN\s+""" +
     """([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+(.+?)""" +
     """(?=\s+(?:WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|SETTINGS)\b|\s*;?\s*$)""").r

  private val IneqCond = """(?s)^(.+?)\s*(<=|>=|<|>)\s*(.+)$""".r
  private val EqCond = """(?s)^([^=<>!]+)=([^=<>!]+)$""".r

  private def rewriteAsofJoin(sql: String): String =
    AsofJoinClause.replaceAllIn(sql, m => {
      val (t1, a1, t2, a2) = (m.group(1), m.group(2), m.group(4), m.group(5))
      val parts = m.group(6).split("(?i)\\s+AND\\s+").map(_.trim).toSeq
      val ineqs = parts.collect { case p @ IneqCond(_, _, _) => p }
      // word-boundary match: raw substring matching let an alias that
      // is a suffix of another identifier ("c" in "abc.ts")
      // misclassify an ON operand's side
      def refs(e: String, a: String) =
        ("(?<![\\w.])" + java.util.regex.Pattern.quote(a) + "\\.").r.findFirstIn(e).isDefined
      // orient an (x, y) pair to (a1-side expr, a2-side expr); None
      // when a side references both aliases or neither
      def orient(x: String, y: String): Option[(String, String)] =
        if (refs(x, a1) && !refs(x, a2) && refs(y, a2) && !refs(y, a1)) Some((x, y))
        else if (refs(x, a2) && !refs(x, a1) && refs(y, a1) && !refs(y, a2)) Some((y, x))
        else None
      val rewritten = ineqs match {
        case Seq(IneqCond(lhs, op0, rhs)) =>
          val eqPairsOpt: Option[Seq[(String, String)]] = {
            val eqs = parts.filterNot(ineqs.contains).map {
              case EqCond(x, y) => orient(x.trim, y.trim)
              case _            => None
            }
            if (eqs.nonEmpty && eqs.forall(_.isDefined)) Some(eqs.flatten) else None
          }
          val normOpt = orient(lhs.trim, rhs.trim).map { case (le, re) =>
            // op as seen with the probe expr on the LEFT
            val op = if (refs(lhs.trim, a1)) op0
                     else op0 match { case ">=" => "<="; case "<=" => ">="; case ">" => "<"; case _ => ">" }
            (le, op, re)
          }
          (eqPairsOpt, normOpt) match {
            case (Some(eqPairs), Some((lt, op, rt))) =>
              val ks = eqPairs.indices.map(i => s"__asof_k$i")
              val partBy = ks.mkString(", ")
              val rKeys = eqPairs.zipWithIndex.map { case ((_, re), i) => s"$re AS __asof_k$i" }.mkString(", ")
              val lKeys = eqPairs.map(_._1).mkString(", ")
              // time direction: ≥/> look back (latest-before), ≤/<
              // look forward; side order at equal times: inclusive →
              // right rows (side 0) visible, strict → probe marker
              // (side 1) first so equal-time rights are excluded
              val tDir = if (op == "<=" || op == "<") " DESC" else ""
              val sDir = if (op == ">" || op == "<") " DESC" else ""
              val onEq = eqPairs.zipWithIndex.map { case ((le, _), i) => s"$le = $a2.__asof_k$i" }
                .mkString(" AND ")
              val left = if (m.group(3) != null) "LEFT " else ""
              Some(
                s"""FROM $t1 $a1 ${left}JOIN (
                   |  SELECT $partBy, __asof_t, __asof_m.*
                   |  FROM (
                   |    SELECT $partBy, __asof_t, __asof_side,
                   |           last(__asof_r, true) OVER (PARTITION BY $partBy
                   |             ORDER BY __asof_t$tDir, __asof_side$sDir
                   |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __asof_m
                   |    FROM (
                   |      SELECT $rKeys, $rt AS __asof_t, struct($a2.*) AS __asof_r, 0 AS __asof_side FROM $t2 $a2
                   |      UNION ALL
                   |      SELECT DISTINCT $lKeys, $lt, NULL, 1 FROM $t1 $a1
                   |    ) __asof_u
                   |  ) __asof_w
                   |  WHERE __asof_side = 1 AND __asof_m IS NOT NULL
                   |) $a2 ON $onEq AND $lt = $a2.__asof_t""".stripMargin)
            case _ => None // unsupported shape → untouched, fails loudly on ASOF
          }
        case _ => None
      }
      scala.util.matching.Regex.quoteReplacement(rewritten.getOrElse(m.matched))
    })

  /** PASTE JOIN — CH zips two result sets row-by-row in BLOCK order,
    * which a distributed engine does not define. The engine EXECUTES
    * the deterministic form: both sides are parenthesized subqueries
    * whose text ends in a top-level ORDER BY over their own output
    * columns. Each side gets `row_number()` over that order and the
    * sides zip on it — an inner join, so the result truncates to the
    * shorter side. Any other shape (bare tables, no ORDER BY, ordinal
    * ORDER BY, which a window cannot re-read) refuses with this
    * contract in the message. Paren-aware throughout; recursion
    * handles several PASTE JOINs in one statement.
    *
    * A CHAIN — `(A) PASTE JOIN (B) PASTE JOIN (C) …` — is consumed
    * in ONE pass into a single multi-way zip: every side gets its
    * own row_number over its own ORDER BY and all sides inner-join
    * on side 0's row number. That equals CH's left-to-right pairwise
    * zip (each pairwise zip truncates to the shorter side, so the
    * chain truncates to the SHORTEST side — which the all-equal
    * inner join reproduces), without the intermediate zip result
    * needing a textual ORDER BY of its own. */
  private val PasteJoin = """(?i)\s*\bPASTE\s+JOIN\b""".r

  private def rewritePasteJoin(sql: String): String = {
    val m = PasteJoin.findFirstMatchIn(sql).getOrElse(return sql)
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      "PASTE JOIN zips rows by physical block order, which a distributed engine does " +
        "not define. Executable deterministic form: (SELECT … ORDER BY …) PASTE JOIN " +
        s"(SELECT … ORDER BY …) — row_number over each side's ORDER BY zips the rows. $why")
    val tree = ChLexer.tree(sql)
    var i = m.start - 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    if (i < 0 || sql.charAt(i) != ')') refuse("(left side is not a parenthesized subquery)")
    val leftEnd = i
    val leftStart = tree.partnerOf(leftEnd)
    if (leftStart < 0) refuse("(unbalanced parentheses before PASTE JOIN)")
    def parseSide(from: Int): (Int, Int) = { // (openParen, closeParen)
      var j = from
      while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
      if (j >= sql.length || sql.charAt(j) != '(') refuse("(right side is not a parenthesized subquery)")
      val close = tree.partnerOf(j)
      if (close < 0) refuse("(unbalanced parentheses after PASTE JOIN)")
      (j, close)
    }
    val (rs0, re0) = parseSide(m.end)
    val sides = scala.collection.mutable.ArrayBuffer(
      sql.substring(leftStart + 1, leftEnd), sql.substring(rs0 + 1, re0))
    // greedily consume `PASTE JOIN (…)` continuations: the whole chain
    // zips in ONE multi-way join, so the intermediate zip needs no
    // textual ORDER BY of its own
    var chainEnd = re0
    var next = PasteJoin.findPrefixMatchOf(sql.substring(chainEnd + 1))
    while (next.nonEmpty) {
      val (s2, e2) = parseSide(chainEnd + 1 + next.get.end)
      sides += sql.substring(s2 + 1, e2)
      chainEnd = e2
      next = PasteJoin.findPrefixMatchOf(sql.substring(chainEnd + 1))
    }
    // the last top-level ORDER BY's expression list, before any
    // LIMIT/OFFSET/FETCH tail
    def orderOf(sub: String, side: String): String = {
      val top = ChLexer.tree(sub).top
      val o = top.lastIndexWhere(_.kw == "ORDER BY")
      if (o < 0) refuse(s"($side side needs a top-level ORDER BY)")
      val t = sub.substring(top(o).bodyStart, if (o + 1 < top.length) top(o + 1).start else sub.length).trim
      if (t.isEmpty) refuse(s"($side ORDER BY is empty)")
      if (t.matches("""[\d\s,]+""")) refuse(
        s"($side ORDER BY uses ordinals, which a window cannot re-read — name the columns)")
      t
    }
    val obs = sides.toSeq.zipWithIndex.map { case (s, i) =>
      orderOf(s, if (i == 0) "left" else if (sides.size == 2) "right" else s"side ${i + 1}")
    }
    val numbered = sides.toSeq.zip(obs).zipWithIndex.map { case ((s, ob), i) =>
      s"(SELECT *, row_number() OVER (ORDER BY $ob) AS __pj_rn_$i FROM ($s) __pjs$i) __pjt$i"
    }
    val joined = numbered.head + numbered.tail.zipWithIndex.map { case (t, i) =>
      s" JOIN $t ON __pjt0.__pj_rn_0 = __pjt${i + 1}.__pj_rn_${i + 1}"
    }.mkString
    val repl =
      s"(SELECT * EXCEPT (${sides.indices.map(i => s"__pj_rn_$i").mkString(", ")}) FROM $joined)"
    rewritePasteJoin(sql.substring(0, leftStart) + repl + sql.substring(chainEnd + 1))
  }

  /** ClickHouse column-matcher selectors — `* APPLY(fn)` applies `fn`
    * to every column of the FROM table; `COLUMNS('re')` selects the
    * columns whose name partially matches the regex, optionally with
    * its own `APPLY`. Expansion needs the FROM target's schema at
    * PARSE time, so the executable subset is a plain
    * `SELECT … FROM <table-or-view> …` (no WITH prefix, single
    * resolvable target); other shapes refuse with the hand-expansion
    * to write instead. Result columns carry CH's `fn(col)` names. */
  private val StarApply =
    """(?is)\*\s+APPLY\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
  private val ColumnsSel =
    """(?is)\bCOLUMNS\s*\(\s*'([^']*)'\s*\)(?:\s+APPLY\s*\(\s*([A-Za-z_]\w*)\s*\))?""".r

  private def rewriteColumnMatchers(sql: String, lx: ChLexer.Masked): String = {
    def hasMatcher(s: String) =
      StarApply.findFirstIn(s).isDefined || ColumnsSel.findFirstIn(s).isDefined
    if (!hasMatcher(sql)) return sql
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      "* APPLY(fn) / COLUMNS('re') expand from the FROM table's schema at parse time; " +
        s"the executable subset is SELECT … FROM <one table/view>. $why — " +
        "write the expanded column list by hand for other shapes")
    if (!sql.trim.toUpperCase.startsWith("SELECT")) refuse("(statement does not start with SELECT)")
    val fromIdx = topLevel(sql, "FROM")
    if (fromIdx < 0) refuse("(no top-level FROM)")
    val afterFrom = sql.substring(fromIdx + 4)
    val targetM = """^\s*([A-Za-z_][\w.]*)\s*""".r.findFirstMatchIn(afterFrom)
      .getOrElse(refuse("(FROM target is not a plain table/view name)"))
    val target = targetM.group(1)
    if (target.equalsIgnoreCase("select")) refuse("(FROM target is a subquery)")
    // the FROM clause must END at the target: a JOIN or comma list
    // would need the combined schema (CH expands over ALL joined
    // columns) — refuse rather than silently expand half the columns
    val afterTarget = afterFrom.substring(targetM.end)
    if (!"""(?is)^\s*(?:AS\s+[A-Za-z_]\w*\s*)?(?:$|WHERE\b|GROUP\b|ORDER\b|LIMIT\b|HAVING\b|QUALIFY\b|UNION\b|SETTINGS\b|FORMAT\b|INTO\b|;)""".r
        .findFirstIn(afterTarget).isDefined)
      refuse("(FROM has more than one table — JOIN/comma lists need the combined schema)")
    var head = sql.substring(0, fromIdx)
    val tail = sql.substring(fromIdx)
    // a matcher AFTER the select list (subquery in WHERE, ORDER BY)
    // would survive the head-only rewrite and die as a raw parse
    // error — refuse with the guidance instead
    if (hasMatcher(tail)) refuse("(a matcher appears after the top-level select list)")
    val spark = org.apache.spark.sql.SparkSession.active
    val fields =
      try spark.table(target).schema.fieldNames.toSeq
      catch { case _: Exception => refuse(s"(cannot resolve table '$target')") }
    def quoted(name: String) = s"`${lx.hold(name)}`"
    def applied(fn: String, c: String) = s"$fn(${quoted(c)}) AS ${quoted(s"$fn($c)")}"
    head = StarApply.replaceAllIn(head, m =>
      scala.util.matching.Regex.quoteReplacement(fields.map(applied(m.group(1), _)).mkString(", ")))
    head = ColumnsSel.replaceAllIn(head, m => {
      val re = lx.body(m.group(1))
      val pat =
        try java.util.regex.Pattern.compile(re)
        catch { case e: java.util.regex.PatternSyntaxException =>
          refuse(s"(COLUMNS regex '$re' does not compile: ${e.getDescription})") }
      val matched = fields.filter(c => pat.matcher(c).find())
      if (matched.isEmpty) refuse(s"(COLUMNS('$re') matches no column of '$target')")
      val expansion = Option(m.group(2)) match {
        case Some(fn) => matched.map(applied(fn, _)).mkString(", ")
        case None => matched.map(quoted).mkString(", ")
      }
      scala.util.matching.Regex.quoteReplacement(expansion)
    })
    head + tail
  }

  private val AliasedItem = """(?is)^.*\s+AS\s+([A-Za-z_]\w*)\s*$""".r
  private val BareItem    = """(?s)^\s*([A-Za-z_]\w*)\s*$""".r

  /** One INTERPOLATE item. Executable recurrences over the previous
    * output row (CH evaluates the AS-expression against it):
    *   - "carry":   bare `c` or `c AS c` — repeat the previous value
    *   - "+"/"-":   `c AS c ± k` (numeric literal) — affine ramp,
    *                closed form last ± k·n (round 15)
    *   - "*"/"/":   `c AS c * k` / `c AS c / k` (round 17) —
    *                geometric, closed form last · k^±n (k ≠ 0 for /)
    *   - "+col"/"-col": `c AS c ± d` where d is ANOTHER output column
    *                (round 17) — linear recurrence c_i = c_{i-1} ± d_{i-1},
    *                closed form last ± Σ d over the preceding filled
    *                run (d's filled values are known: 0-default, the
    *                prefix constant, or the fill axis itself)
    * Anything else — cross-column multiplication, expressions over a
    * column that is itself interpolated (evaluation-order dependent),
    * arbitrary functions — returns None and the caller refuses by
    * pass-through. */
  private def parseInterpItem(it: String): Option[(String, (String, String))] = {
    val t = it.trim
    if (t.matches("[A-Za-z_]\\w*")) Some((t, ("carry", "")))
    else """(?is)^([A-Za-z_]\w*)\s+AS\s+(.+)$""".r.findFirstMatchIn(t).flatMap { m =>
      val c = m.group(1)
      val e = m.group(2).trim
      if (e == c) Some((c, ("carry", "")))
      else """^([A-Za-z_]\w*)\s*([+\-*/])\s*(\d+(?:\.\d+)?)$""".r.findFirstMatchIn(e) match {
        case Some(a) if a.group(1) == c =>
          if (a.group(2) == "/" && a.group(3).toDouble == 0.0) None // CH raises on /0 too
          else Some((c, (a.group(2), a.group(3))))
        case _ =>
          """^([A-Za-z_]\w*)\s*([+\-])\s*([A-Za-z_]\w*)$""".r.findFirstMatchIn(e) match {
            case Some(a) if a.group(1) == c && a.group(3) != c =>
              Some((c, (a.group(2) + "col", a.group(3))))
            case _ => None
          }
      }
    }
  }

  /** `winTiebreak`: extra columns appended to every carry/recurrence
    * WINDOW's ORDER BY (never to the fill grid itself). Used by the
    * multi-key composition: at an OUTER fill stage the source holds
    * many rows tied on the outer key (one per inner-key value), so a
    * window ordered by the fill key alone reads a nondeterministic
    * "previous row" — partition/sort-order dependent at scale even
    * when tiny single-host runs pass. Ordering ties by the inner fill
    * keys makes the recurrence base the (outer, inner…)-max row, CH's
    * previous-OUTPUT-row semantics, deterministically. */
  private def rewriteWithFill(sql: String, lx: ChLexer.Masked,
                              winTiebreak: Seq[String] = Nil): String = sql match {
    case WithFill(body, prefixRaw, fillCol, dirOrNull, fromRaw, toRaw, stepOrNull, staleOrNull, interpOrNull) =>
      // grouped form: plain named sort keys BEFORE the fill column —
      // the fill restarts per distinct prefix value
      val prefix: Seq[String] =
        Option(prefixRaw).getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (prefix.contains(fillCol) || prefix.distinct.size != prefix.size) return sql
      // DESC fill (round 16): `ORDER BY c DESC WITH FILL … STEP -n` —
      // CH's latest-first dashboard spelling. Integer axes only (a
      // DESC date grid would need negative INTERVAL spellings the
      // STEP regex doesn't carry), step defaults to -1 and a literal
      // step must be NEGATIVE (CH rejects a sign mismatch with the
      // sort direction); STALENESS pairs with a negative unit in CH's
      // DESC form — unsupported here, refuse.
      val desc = dirOrNull != null && dirOrNull.equalsIgnoreCase("DESC")
      // STALENESS: per-source-row bounded runs — CH rejects it with
      // FROM/TO; its unit is a bare number, so INTERVAL step
      // spellings refuse at parse; k and the step must be positive
      // bare integers (Long-range — an overflowing literal refuses
      // rather than crashing the parser). A date/timestamp fill
      // column is unknowable at parse and fails loudly at ANALYSIS
      // (sequence() rejects a bare-int step on a date axis).
      // Date/DateTime STALENESS (round 17): `STALENESS INTERVAL n unit`
      // — q95d's interval machinery reused for the per-row bounded
      // runs. An INTERVAL staleness requires an INTERVAL step (a
      // bare-int step's unit depends on the axis kind, unknowable at
      // parse — refuse rather than guess); the unit whitelist and the
      // quarter lowering are lowerInterval's, shared with every other
      // interval spelling.
      val staleIvRaw = Option(staleOrNull).map(_.trim).collect {
        case s @ FillIntervalStep(_, _) => s
      }
      val staleIv: Option[String] = staleIvRaw.flatMap {
        case FillIntervalStep(n, u) => lowerInterval(n, u)
        case _                      => None
      }
      if (staleIvRaw.isDefined && staleIv.isEmpty) return sql
      val staleIvStep: Option[String] =
        if (staleIv.isEmpty) None
        else Option(stepOrNull).map(_.trim) match {
          case Some(FillIntervalStep(n, u)) => lowerInterval(n, u)
          case _ => None
        }
      if (staleIv.isDefined && staleIvStep.isEmpty) return sql
      val staleParsed = Option(staleOrNull).filter(_ => staleIv.isEmpty)
        .map(s => scala.util.Try(s.trim.toLong))
      if (staleParsed.exists(_.isFailure)) return sql
      val stale: Option[Long] = staleParsed.map(_.get)
      if (stale.exists(_ <= 0)) return sql
      val anyStale = stale.isDefined || staleIv.isDefined
      if (anyStale && (fromRaw != null || toRaw != null)) return sql
      val staleStep: String = Option(stepOrNull).map(_.trim).getOrElse("1")
      if (stale.isDefined &&
          scala.util.Try(staleStep.toLong).toOption.forall(_ <= 0)) return sql
      if (desc && anyStale) return sql
      // a DESC step literal: negative bare integer, default -1 —
      // resolved ONCE (it depends only on the STEP text, not the
      // bound classification); every DESC branch consumes this
      val descStep: Option[String] =
        if (!desc) None
        else Option(stepOrNull).map(_.trim) match {
          case None => Some("-1")
          case Some(s) =>
            if (!s.matches("-\\d+")) None
            else scala.util.Try(s.toLong).toOption.filter(_ < 0).map(_ => s)
        }
      if (desc && descStep.isEmpty) return sql
      val boundless = fromRaw == null && toRaw == null && !anyStale
      val fromOnly = fromRaw != null && toRaw == null
      val toOnly = fromRaw == null && toRaw != null
      // bounded form: classify bounds; unclassifiable or mixed-kind
      // bounds (int FROM, date TO) pass through untouched so the
      // WITH FILL keyword fails loudly. Bound-less form: only the
      // step needs resolving (bounds come from the data at run time).
      // Half forms: the one literal bound fixes the kind; the other
      // derives from the data (min for TO-only, max for FROM-only).
      var from = ""; var to = ""; var kind = ""; var step = ""
      var blStep = "" // bound-less sequence() step argument ("", ", 2", ", interval 1 month")
      if (anyStale) {
        // no bounds to classify: the axis is the union of per-row runs
      } else if (boundless) {
        if (desc) blStep = s", ${descStep.get}"
        else {
          val s = boundlessStep(stepOrNull)
          if (s.isEmpty) return sql
          blStep = s.get
        }
      } else if (fromOnly || toOnly) {
        val b = fillBound(if (fromOnly) fromRaw else toRaw, lx)
        if (b.isEmpty) return sql
        kind = b.get._2
        if (fromOnly) from = b.get._1 else to = b.get._1
        if (desc) {
          if (kind != "int") return sql // DESC date grids: see Scaladoc
          step = descStep.get
        } else {
          // a negative step would invert the data-derived bound guard
          if (stepOrNull != null && stepOrNull.trim.startsWith("-")) return sql
          val stepOpt = fillStep(stepOrNull, kind)
          if (stepOpt.isEmpty) return sql
          step = stepOpt.get
        }
      } else {
        val (fromB, toB) = (fillBound(fromRaw, lx), fillBound(toRaw, lx))
        if (fromB.isEmpty || toB.isEmpty || fromB.get._2 != toB.get._2) return sql
        from = fromB.get._1; kind = fromB.get._2
        to = toB.get._1
        if (desc) {
          if (kind != "int") return sql // DESC date grids: see Scaladoc
          step = descStep.get
        } else {
          val stepOpt = fillStep(stepOrNull, kind)
          if (stepOpt.isEmpty) return sql
          step = stepOpt.get
        }
      }
      val items = Option(interpOrNull).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      // an INTERPOLATE clause that is present but empty is malformed —
      // leave the text alone so the keyword fails loudly (rewriting it
      // away would silently downgrade to 0-fill)
      if (interpOrNull != null && items.isEmpty) return sql
      val parsedItems = items.map(parseInterpItem)
      // interpolation outside the carry/affine subset is not
      // executable here — leave the text alone so the INTERPOLATE
      // keyword fails loudly; same for duplicate entries for one
      // column (toMap would silently keep the last spelling) and for
      // interpolating the fill axis itself (CH rejects it; the filled
      // axis is never NULL so a carry would read the CURRENT row)
      if (parsedItems.exists(_.isEmpty)) return sql
      val flat = parsedItems.flatten
      if (flat.map(_._1).distinct.size != flat.size) return sql
      if (flat.exists(_._1 == fillCol)) return sql
      val interp: Map[String, (String, String)] = flat.toMap
      val names = selectNames(body)
      if (names.isEmpty) sql
      else {
        val colSet = names.get.toSet
        // an INTERPOLATE column absent from the SELECT list leaves the
        // text alone → the keyword fails loudly, never silently skips;
        // ditto prefix keys that are not named outputs, and an
        // INTERPOLATE on a prefix key (its filled rows carry the
        // group's value by construction — CH rejects the spelling)
        // cross-column operands (`c AS c + d`): d must be a named
        // output and must NOT itself be interpolated — the recurrence
        // would then depend on evaluation order (CH evaluates all
        // INTERPOLATE expressions against the same previous row; a
        // closed form per column can't honor that coupling → refuse)
        val colOperands = interp.values.collect {
          case (op, operand) if op.endsWith("col") => operand
        }.toSeq
        if (!colSet.contains(fillCol) ||
            !interp.keySet.subsetOf(colSet) ||
            !prefix.forall(colSet.contains) || prefix.exists(interp.contains) ||
            !colOperands.forall(colSet.contains) ||
            colOperands.exists(interp.contains)) sql
        else {
          val cols = names.get
          val affine = interp.exists(_._2._1 != "carry")
          val sel = cols.map { n =>
            if (n == fillCol) s"coalesce(gr_src__.$n, gr_axis__.gr_fill__) AS $n"
            else if (prefix.contains(n)) s"coalesce(gr_src__.$n, gr_axis__.$n) AS $n"
            else if (interp.contains(n)) s"gr_src__.$n AS $n" // filled below
            // the TYPE default (0 / '' / epoch — CH's fill values),
            // never a bare 0: that coerced string passengers to bigint
            else s"coalesce(gr_src__.$n, graft_fill_default(gr_src__.$n)) AS $n"
          }.mkString(", ") +
            // affine steps need to know which rows are source rows
            (if (affine) s", (gr_src__.$fillCol IS NOT NULL) AS gr_is_src__" else "")
          val pfx = prefix.mkString(", ")
          // null-safe prefix equality: a NULL category still lines up
          // with its own per-group axis row
          val onClause = (prefix.map(p => s"gr_src__.$p <=> gr_axis__.$p") :+
            s"gr_src__.$fillCol = gr_axis__.gr_fill__").mkString(" AND ")
          // int axis: TO-exclusive via `$to - 1`; date/ts axes:
          // sequence is end-inclusive when TO lands on grid, so the
          // grid filters `< TO` (true calendar stepping either way).
          // Bound-less: min/max of the source itself (max INCLUSIVE —
          // it is an existing row), via a CTE so the source computes
          // once per join side, not three times.
          val joined =
            if (stale.isDefined) {
              // per-source-row runs: each row at v fills v+s, v+2s, …
              // while < min(v+k, next source value); the last row (no
              // successor) runs to v+k exclusive. sequence() needs an
              // inclusive end → `- 1` (integer axis); the CASE guards
              // the empty run (Spark's sequence refuses start > stop);
              // DISTINCT collapses identical runs from duplicate
              // source values. Generated values never collide with
              // source values (each run is strictly below the next
              // source row), so every fill row is pure — UNION ALL of
              // source and fill rows, never a join (a FULL OUTER here
              // would shuffle both sides on a key that never equates).
              // Union type coercion plays coalesce's role: the 0 /
              // NULL defaults widen to each source column's type.
              val k = stale.get
              val pfxSel = if (prefix.isEmpty) "" else s"$pfx, "
              val leadPart = if (prefix.isEmpty) "" else s"PARTITION BY $pfx "
              val srcSel = cols.mkString(", ") + ", true AS gr_is_src__"
              val fillSel = cols.map { n =>
                if (n == fillCol) s"gr_fill__ AS $n"
                else if (prefix.contains(n)) n
                else if (interp.contains(n)) s"NULL AS $n" // the INTERPOLATE windows fill below
                else s"NULL AS $n" // typed default applied post-union (see unionFill)
              }.mkString(", ") + ", false AS gr_is_src__"
              s"""(WITH gr_fill_src__ AS (SELECT $body)
                 |SELECT $srcSel FROM gr_fill_src__
                 |UNION ALL
                 |SELECT $fillSel
                 |FROM (SELECT DISTINCT ${pfxSel}gr_fill__
                 |      FROM (SELECT ${pfxSel}explode(CASE WHEN gr_v__ + $staleStep <= gr_end__ THEN sequence(gr_v__ + $staleStep, gr_end__, $staleStep) END) AS gr_fill__
                 |            FROM (SELECT ${pfxSel}$fillCol AS gr_v__,
                 |                         least($fillCol + $k, coalesce(lead($fillCol) OVER (${leadPart}ORDER BY $fillCol), $fillCol + $k)) - 1 AS gr_end__
                 |                  FROM gr_fill_src__)))) gr_fill_out__""".stripMargin
            } else if (staleIv.isDefined) {
              // Date/DateTime STALENESS (round 17): same union-of-runs
              // shape as the integer form, but "last grid value
              // strictly below the cap" has no `- 1` on a calendar
              // axis — each run generates through v + k inclusive and
              // a `< cap` filter (cap = least(v + k, next source
              // value)) enforces both exclusivities, true calendar
              // stepping throughout. q95d's interval machinery
              // supplies the step/staleness lowering (quarter → 3n
              // month); DISTINCT collapses duplicate-source runs as in
              // the integer form.
              val kIv = staleIv.get
              val sIv = staleIvStep.get
              val pfxSel = if (prefix.isEmpty) "" else s"$pfx, "
              val leadPart = if (prefix.isEmpty) "" else s"PARTITION BY $pfx "
              val srcSel = cols.mkString(", ") + ", true AS gr_is_src__"
              val fillSel = cols.map { n =>
                if (n == fillCol) s"gr_fill__ AS $n"
                else if (prefix.contains(n)) n
                else if (interp.contains(n)) s"NULL AS $n" // the INTERPOLATE windows fill below
                else s"NULL AS $n" // typed default applied post-union (see unionFill)
              }.mkString(", ") + ", false AS gr_is_src__"
              s"""(WITH gr_fill_src__ AS (SELECT $body)
                 |SELECT $srcSel FROM gr_fill_src__
                 |UNION ALL
                 |SELECT $fillSel
                 |FROM (SELECT DISTINCT ${pfxSel}gr_fill__
                 |      FROM (SELECT ${pfxSel}gr_fill__
                 |            FROM (SELECT ${pfxSel}explode(CASE WHEN gr_v__ + $sIv <= gr_v__ + $kIv THEN sequence(gr_v__ + $sIv, gr_v__ + $kIv, $sIv) END) AS gr_fill__,
                 |                         gr_cap__
                 |                  FROM (SELECT ${pfxSel}$fillCol AS gr_v__,
                 |                               least($fillCol + $kIv, coalesce(lead($fillCol) OVER (${leadPart}ORDER BY $fillCol), $fillCol + $kIv)) AS gr_cap__
                 |                        FROM gr_fill_src__))
                 |            WHERE gr_fill__ < gr_cap__))) gr_fill_out__""".stripMargin
            } else if (boundless || fromOnly || toOnly) {
              // data-derived bound(s): CASE guards the sequence() call
              // when the literal bound lies outside the data's range
              // (explode(NULL) → empty axis, source rows pass
              // through); TO-only keeps CH's exclusive TO via a grid
              // filter (uniform across int and date/ts kinds). With a
              // prefix, min/max compute PER GROUP — each category
              // fills its own range.
              val axisExpr =
                if (boundless)
                  if (desc) s"sequence(gr_mx__, gr_mn__$blStep)"
                  else s"sequence(gr_mn__, gr_mx__$blStep)"
                else if (fromOnly)
                  if (desc) s"CASE WHEN gr_mn__ <= $from THEN sequence($from, gr_mn__, $step) END"
                  else s"CASE WHEN gr_mx__ >= $from THEN sequence($from, gr_mx__, $step) END"
                else if (desc) s"CASE WHEN gr_mx__ > $to THEN sequence(gr_mx__, $to, $step) END"
                else s"CASE WHEN gr_mn__ < $to THEN sequence(gr_mn__, $to, $step) END"
              val axisFilter =
                if (!toOnly) ""
                else if (desc) s" WHERE gr_fill__ > $to"
                else s" WHERE gr_fill__ < $to"
              val pfxSel = if (prefix.isEmpty) "" else s"$pfx, "
              val agg =
                if (prefix.isEmpty)
                  s"SELECT min($fillCol) AS gr_mn__, max($fillCol) AS gr_mx__ FROM gr_fill_src__"
                else
                  s"SELECT $pfx, min($fillCol) AS gr_mn__, max($fillCol) AS gr_mx__ FROM gr_fill_src__ GROUP BY $pfx"
              s"""(WITH gr_fill_src__ AS (SELECT $body)
                 |SELECT $sel
                 |FROM (SELECT ${pfxSel}gr_fill__ FROM (SELECT ${pfxSel}explode($axisExpr) AS gr_fill__
                 |      FROM ($agg))$axisFilter) gr_axis__
                 |FULL OUTER JOIN gr_fill_src__ gr_src__ ON $onClause) gr_fill_out__""".stripMargin
            } else {
              // CASE guards make empty/inverted literal ranges an
              // EMPTY grid (source rows pass through, CH's behavior
              // for FROM at/after TO) instead of sequence() throwing
              // "Illegal sequence boundaries" mid-query
              val axisSub =
                if (kind == "int" && desc)
                  s"(SELECT explode(CASE WHEN $from >= $to + 1 THEN sequence($from, $to + 1, $step) END) AS gr_fill__)"
                else if (kind == "int")
                  s"(SELECT explode(CASE WHEN $from <= $to - 1 THEN sequence($from, $to - 1, $step) END) AS gr_fill__)"
                else
                  s"(SELECT gr_fill__ FROM (SELECT explode(CASE WHEN $from <= $to THEN sequence($from, $to, $step) END) AS gr_fill__) WHERE gr_fill__ < $to)"
              if (prefix.isEmpty)
                s"""(SELECT $sel
                   |FROM $axisSub gr_axis__
                   |FULL OUTER JOIN (SELECT $body) gr_src__ ON $onClause) gr_fill_out__""".stripMargin
              else
                // literal bounds with a prefix: the same grid for
                // every distinct prefix value (CH's bounded grouped
                // fill) — DISTINCT prefix CROSS JOIN grid
                s"""(WITH gr_fill_src__ AS (SELECT $body)
                   |SELECT $sel
                   |FROM (SELECT $pfx, gr_fill__ FROM (SELECT DISTINCT $pfx FROM gr_fill_src__) gr_pfx__
                   |      CROSS JOIN $axisSub gr_grid__) gr_axis__
                   |FULL OUTER JOIN gr_fill_src__ gr_src__ ON $onClause) gr_fill_out__""".stripMargin
            }
          // STALENESS union branches emit NULL for non-interpolated
          // passenger columns (a literal 0 coerced string passengers
          // to bigint and made date/timestamp passengers fail UNION
          // analysis); the TYPE default (graft_fill_default — 0 / ''
          // / epoch, CH's fill values) applies HERE, post-union, where
          // the column carries its source type — gated on the
          // gr_is_src__ marker (round-19 ADVICE): only GENERATED fill
          // rows take the default; a genuinely-NULL passenger on a
          // SOURCE row stays NULL, as CH outputs original rows
          // unchanged. The joined branches coalesce inside `sel`.
          val unionFill = stale.isDefined || staleIv.isDefined
          def passDefault(n: String): String =
            if (unionFill && n != fillCol && !prefix.contains(n) && !interp.contains(n))
              s"CASE WHEN gr_is_src__ THEN $n ELSE graft_fill_default($n) END AS $n"
            else n
          // the INTERPOLATE windows and the final sort respect the
          // prefix: each group carries/ramps its own series
          val partBy = if (prefix.isEmpty) "" else s"PARTITION BY $pfx "
          // DESC: the windows and the final sort follow the OUTPUT
          // order, so a carry reads the previous row of the result —
          // CH's own convention (the fill direction IS the carry
          // direction)
          val fillOrd = if (desc) s"$fillCol DESC" else fillCol
          // window order: the fill axis, ties broken by the inner fill
          // keys (multi-key composition only; Nil for single-key)
          val winOrd = (fillOrd +: winTiebreak.filterNot(_ == fillCol)).mkString(", ")
          val orderOut = (prefix :+ fillOrd).mkString(", ")
          def carryExpr(n: String) =
            s"coalesce(last_value($n, true) OVER (${partBy}ORDER BY $winOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), graft_fill_default($n)) AS $n"
          if (interp.isEmpty) {
            val outer = if (unionFill) cols.map(passDefault).mkString(", ") else "*"
            s"SELECT $outer FROM $joined ORDER BY $orderOut"
          } else if (!affine) {
            // carry the nearest preceding source value across filled
            // rows; before the first source row the 0 default applies
            // (the same default the non-interpolated columns get)
            val outer = cols.map { n =>
              if (interp.contains(n)) carryExpr(n) else passDefault(n)
            }.mkString(", ")
            s"SELECT $outer FROM $joined ORDER BY $orderOut"
          } else {
            // affine recurrence `c AS c ± k`: each filled row applies
            // the step to the previous row's value, so the run ramps
            // last-source-value ± k × rows-since-source. gr_grp__
            // counts source rows seen (one group per source row and
            // its trailing filled run); the row_number inside a group
            // minus 1 is rows-since-source.
            val grpSel =
              s"""SELECT *, count(CASE WHEN gr_is_src__ THEN 1 END)
                 |  OVER (${partBy}ORDER BY $winOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gr_grp__
                 |FROM $joined""".stripMargin
            val grpPart = (prefix :+ "gr_grp__").mkString(", ")
            // shared closed-form pieces: the most recent SOURCE value
            // (interp columns are NULL on fill rows in the joined
            // relation, so ignore-nulls last_value finds it) and the
            // rows-since-source counter. NULL-before-first-source
            // propagates through the arithmetic into the outer
            // coalesce's 0 default — the same default the
            // non-interpolated columns get.
            val lastSrc =
              s"last_value(%s, true) OVER (${partBy}ORDER BY $winOrd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            val sinceSrc = s"(row_number() OVER (PARTITION BY $grpPart ORDER BY $winOrd) - 1)"
            val outer = cols.map { n =>
              interp.get(n) match {
                case Some(("carry", _)) => carryExpr(n)
                case Some(("*", lit)) =>
                  // geometric: c_i = c_{i-1} * k → last · k^n
                  s"""CASE WHEN gr_is_src__ THEN $n
                     |     ELSE coalesce(${lastSrc.format(n)} * power($lit, $sinceSrc), 0)
                     |END AS $n""".stripMargin
                case Some(("/", lit)) =>
                  // c_i = c_{i-1} / k → last / k^n (k ≠ 0, parse-checked)
                  s"""CASE WHEN gr_is_src__ THEN $n
                     |     ELSE coalesce(${lastSrc.format(n)} / power($lit, $sinceSrc), 0)
                     |END AS $n""".stripMargin
                case Some((op, operand)) if op.endsWith("col") =>
                  // cross-column recurrence c_i = c_{i-1} ± d_{i-1} →
                  // last ± Σ d over rows src..i-1 of the run. d's
                  // values on filled rows are already materialized in
                  // the joined relation (0-default / prefix / axis),
                  // so the frame UNBOUNDED PRECEDING..1 PRECEDING
                  // within the run is exactly the recurrence's sum.
                  val sumD = s"coalesce(sum($operand) OVER (PARTITION BY $grpPart ORDER BY $winOrd ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
                  s"""CASE WHEN gr_is_src__ THEN $n
                     |     ELSE coalesce(${lastSrc.format(n)} ${op.stripSuffix("col")} $sumD, 0)
                     |END AS $n""".stripMargin
                case Some((op, lit)) =>
                  s"""CASE WHEN gr_is_src__ THEN $n
                     |     ELSE coalesce(${lastSrc.format(n)} $op ($lit) * $sinceSrc, 0)
                     |END AS $n""".stripMargin
                case None => passDefault(n)
              }
            }.mkString(", ")
            s"SELECT $outer FROM ($grpSel) gr_fill_g__ ORDER BY $orderOut"
          }
        }
      }
    case _ => sql
  }

  /** The named outputs of a select-list body (`a, f(x) AS b FROM …`)
    * — None when any item is neither a bare ident nor aliased, or no
    * top-level FROM exists. */
  private def selectNames(body: String): Option[Seq[String]] = {
    val fromIdx = topLevel(body, "FROM")
    if (fromIdx < 0) None
    else {
      val names = topLevelSplit(body.substring(0, fromIdx)).map {
        case AliasedItem(a) => Some(a)
        case BareItem(a)    => Some(a)
        case _              => None
      }
      if (names.exists(_.isEmpty)) None else Some(names.flatten)
    }
  }

  /** Multi-key `ORDER BY p…, a WITH FILL …, b WITH FILL …[, c WITH
    * FILL …]` — see the multi-key semantics note above [[WithFill]]
    * for the (non-cartesian) ClickHouse model. Round-17 second pass
    * generalizes from
    * exactly two fill keys to ANY count: the ORDER BY tail tokenizes
    * on top-level commas (plain named keys first, then 2+ `k WITH
    * FILL [bounds]` items), and the rewrite composes single-key fills
    * from the INNERMOST key outward — fill key i is grouped by
    * (plain prefix ++ fill keys 0..i-1), so each key fills only
    * within runs of equal earlier-key values and earlier-key
    * insertions default the later keys (CH's docs shape). INTERPOLATE
    * applies at every stage (CH evaluates against the previous OUTPUT
    * row); a final wrap re-sorts on ALL keys (each stage alone only
    * orders by its own axis, which leaves later-key fills unordered
    * within ties). Any stage the single-key machinery refuses —
    * unsupported bound, ASC/DESC modifier, STALENESS, interp form,
    * unknown column — refuses the WHOLE statement by pass-through →
    * loud parse failure on WITH FILL. */
  private val MultiFillOuter =
    """(?is)^\s*SELECT\b(.*\S)\s+ORDER\s+BY\s+(.+?)(?:\s+INTERPOLATE\s*\(([^()]*)\))?\s*;?\s*$""".r
  private val MultiFillItem = """(?is)^(\w+)\s+WITH\s+FILL\b(.*)$""".r
  private val MultiPlainItem = """(?s)^(\w+)$""".r

  private def rewriteMultiFill(sql: String, lx: ChLexer.Masked): String = sql match {
    case MultiFillOuter(body, orderTail, interpOrNull) =>
      // fast path: fewer than two WITH FILL keys → not this form
      if ("""(?i)WITH\s+FILL""".r.findAllMatchIn(orderTail).size < 2) return sql
      val items = topLevelSplit(orderTail).map(_.trim)
      // plain named keys first, then only fill items; anything else
      // (ASC/DESC modifiers, expression keys) refuses by pass-through
      val (plainItems, rest) = items.span(MultiPlainItem.findFirstIn(_).isDefined)
      val fills: Seq[(String, String)] = rest.map {
        case MultiFillItem(k, tail) => (k, tail.trim)
        case _                      => return sql
      }
      if (fills.size < 2) return sql
      val plains = plainItems
      val keyNames = plains ++ fills.map(_._1)
      if (keyNames.distinct.size != keyNames.size) return sql
      // STALENESS anywhere in a multi-key fill refuses (its per-row
      // runs have no defined interaction with later-key fills)
      if (fills.exists(f => """(?i)\bSTALENESS\b""".r.findFirstIn(f._2).isDefined)) return sql
      val names = selectNames(body)
      if (names.isEmpty) return sql
      val cols = names.get.mkString(", ")
      val interpCl = Option(interpOrNull).map(i => s" INTERPOLATE ($i)").getOrElse("")
      // compose from the innermost (last) fill key outward
      var current: String = null // the previous stage's REWRITTEN sql
      for (i <- fills.indices.reverse) {
        val groupKeys = plains ++ fills.take(i).map(_._1)
        val pfx = if (groupKeys.isEmpty) "" else groupKeys.mkString(", ") + ", "
        val (k, bounds) = fills(i)
        val src = if (current == null) body else s"$cols FROM ($current) gr_mk${i}__"
        val stage = s"SELECT $src ORDER BY $pfx$k WITH FILL" +
          (if (bounds.isEmpty) "" else s" $bounds") + interpCl
        // this stage's source carries one row per inner-key value for
        // every outer-key run — break the stage windows' ties by the
        // inner fill keys so the carry/recurrence base is the
        // (outer, inner…)-max row (CH's previous-output-row), not
        // whichever row the partitioning happened to order last
        val rw = rewriteWithFill(stage, lx, winTiebreak = fills.drop(i + 1).map(_._1))
        if (rw == stage) return sql
        current = rw
      }
      s"SELECT $cols FROM ($current) gr_mkf__ ORDER BY ${keyNames.mkString(", ")}"
    case _ => sql
  }

  // a statement naming no clause the passes below rewrite skips them
  private val PrewhereWord = """(?i)\bPREWHERE\b""".r
  private val ClauseTrigger = """(?i)\bQUALIFY\b|\bOFFSET\b|\bFETCH\b|\bWITH\s+(?:TIES|TOTALS)\b|\bDISTINCT\s+ON\b|\bLIMIT\s+\d+\s*(?:,|BY\b)""".r

  /** A replacement of `text[from, to)` made by a clause pass. */
  private final case class Splice(from: Int, to: Int, text: String)

  /** A clause pass: the splices it makes in one query block, read off
    * the block's clause ranges (Nil leaves the block as it is). */
  private type BlockPass = (String, ChLexer.Tree, ChLexer.Block) => Seq[Splice]

  /** Runs each pass in turn once per query block of `sql` (see
    * [[ChLexer.Block]]), innermost block first, and rebuilds the
    * structure after every change, so a subquery, CTE body or
    * set-operation branch is rewritten like a whole statement. A splice
    * of the statement's own block that reaches its end also takes the
    * `;` terminator, and one that starts at its head with only blanks
    * before it takes those blanks. */
  private def perBlock(sql: String, passes: BlockPass*): String = {
    var text = sql
    var tree = ChLexer.tree(text)
    for (pass <- passes) {
      var bound = Int.MaxValue
      // the block with the last head before `bound`: a nested block
      // starts after its enclosing block's head, and a rewrite changes
      // no text before the head of the block it rewrites
      def innermost = tree.blocks.filter(_.head < bound).maxByOption(_.head)
      var next = innermost
      while (next.nonEmpty) {
        val blk = next.get
        bound = blk.head
        val splices = pass(text, tree, blk)
        for (sp <- splices.sortBy(-_.from)) {
          val whole = !blk.enclosed
          val from = if (whole && sp.from == blk.head && text.substring(0, sp.from).isBlank) 0 else sp.from
          val to = if (whole && sp.to == blk.end) text.length else sp.to
          text = text.substring(0, from) + sp.text + text.substring(to)
          bound = bound min from
        }
        if (splices.nonEmpty) tree = ChLexer.tree(text)
        next = innermost
      }
    }
    text
  }

  /** Clause `i`'s body text. */
  private def clauseBody(text: String, blk: ChLexer.Block, i: Int): String =
    text.substring(blk.clauses(i).bodyStart, blk.bodyEnd(i))

  /** The end of `text[a, b)` without its trailing blanks. */
  private def trimmedEnd(text: String, a: Int, b: Int): Int = a + text.substring(a, b).stripTrailing.length

  // `LIMIT [off,] n [OFFSET off]`, the bodies `n ROW[S]` of OFFSET and
  // `FIRST|NEXT [n] ROW[S] [ONLY]` of FETCH, and `SELECT [DISTINCT [ON (]]`
  private val LimitSpec = """(?is)LIMIT\s+(?:(\d+)\s*,\s*)?(\d+)(?:\s+OFFSET\s+(\d+))?\s*""".r
  private val OffsetRows = """(?is)\s*(\d+)\s+ROWS?\s*""".r
  private val FetchRows = """(?is)\s*(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?(\s+ONLY)?\s*""".r
  private val SelectHead = """(?is)SELECT\s+(DISTINCT\b\s*(ON\s*\()?)?""".r

  /** `text[from, to)` as a `LIMIT` spec: (offset or null, count, OFFSET
    * count or null). */
  private def limitSpec(text: String, from: Int, to: Int) =
    LimitSpec.unapplySeq(text.substring(from, to)).collect { case List(a, n, b) => (a, n, b) }

  /** The block's head as `SELECT [DISTINCT [ON (]]`, when it is one. */
  private def selectHead(text: String, blk: ChLexer.Block) =
    SelectHead.findPrefixMatchOf(text.substring(blk.head))

  /** The block's last ORDER BY: its index, its trimmed list, and the
    * text before it (the query it orders), when there is one. */
  private def lastOrderBy(text: String, blk: ChLexer.Block): Option[(Int, String, String)] = {
    val o = blk.lastIndexOf("ORDER BY")
    if (o < 0) None
    else Some((o, clauseBody(text, blk, o).trim,
      text.substring(blk.head, trimmedEnd(text, blk.head, blk.clauses(o).start))))
  }

  /** Splices `items` (expression, alias) into `query` as hidden select
    * items `expr AS alias` at `fromAt`, its FROM. ClickHouse lets LIMIT
    * BY keys and ORDER BY items name columns the SELECT list does not
    * carry, while a query wrapped around this one sees only its select
    * list: the wrapper partitions or orders by the aliases and EXCEPTs
    * them back out. */
  private def hide(query: String, fromAt: Int, items: Seq[(String, String)]): String =
    query.substring(0, fromAt) + items.map { case (e, a) => s", $e AS $a" }.mkString + " " +
      query.substring(fromAt)

  private val OrderItem = """(?is)(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?""".r
  private val ItemName = """([A-Za-z_]\w*)$""".r
  // a name, or the qualifier of a dotted one; not a function name
  private val NameRef = """(?<![\w.])([A-Za-z_]\w*)(?!\w|\s*\()""".r

  /** The block's ORDER BY list `ord` (clause `o`), rewritten for a
    * wrapper query: each item that refers to a name the select list
    * does not output (its trailing identifier: alias or bare column)
    * orders by a hidden `gr_ob_i__` item instead, kept with its
    * direction. Returns the list and the hidden (expression, alias)
    * items, none when every item resolves — and none under a DISTINCT
    * head (an extra item would change what is distinct), a star in the
    * select list (every source column passes through) or no FROM. */
  private def orderByOverWrapper(text: String, blk: ChLexer.Block, o: Int,
      ord: String): (String, Seq[(String, String)]) = {
    val cs = blk.clauses
    val from = cs.indexWhere(c => c.kw == "FROM" && c.start < cs(o).start)
    val names = selectHead(text, blk).filter(m => m.group(1) == null && from >= 0).map { m =>
      topLevelSplit(text.substring(blk.head + m.end, cs(from).start)).map(_.trim).map { it =>
        if (it.startsWith("*") || it.contains(".*")) "*"
        else ItemName.findFirstMatchIn(it).map(_.group(1).toLowerCase).getOrElse("")
      }.toSet
    }.filterNot(_.contains("*"))
    val items = topLevelSplit(ord).map(_.trim).map {
      case OrderItem(e, dir, nulls) => (e, Option(dir).getOrElse("") + Option(nulls).getOrElse(""))
    }
    val hidden = names.toSeq.flatMap { n =>
      items.map(_._1).filter(e => NameRef.findAllMatchIn(e).map(_.group(1).toLowerCase)
        .exists(r => !n.contains(r)))
    }.distinct.zipWithIndex.map { case (e, i) => (e, s"gr_ob_${i}__") }
    if (hidden.isEmpty) (ord, Nil)
    else (items.map { case (e, mods) => hidden.find(_._1 == e).fold(e)(_._2) + mods }
      .mkString(", "), hidden)
  }

  /** The keywords that may follow a QUALIFY predicate. */
  private val TrailingKws = Set("ORDER BY", "LIMIT", "OFFSET", "FETCH", "BY", "WITH TIES")

  /** ClickHouse/DuckDB/Snowflake `QUALIFY <pred>` — a post-window
    * filter Spark's grammar lacks. The predicate is injected as a
    * boolean select item (lateral column aliases make select-list
    * names like a `row_number() … AS r` visible to it, and a window
    * call written directly in the predicate computes alongside the
    * query's own windows), then the query wraps once and the marker
    * filters and drops via `* EXCEPT`. A DISTINCT head keeps its key:
    * the predicate is injected into a NON-distinct inner select (so
    * windows see pre-dedup rows, the standard QUALIFY-before-DISTINCT
    * evaluation order) and DISTINCT moves to the wrapping query,
    * applying after the filter and after the marker is dropped. The
    * trailing ORDER BY / LIMIT / OFFSET / FETCH clauses move to the
    * wrapper as written, except that an ORDER BY item naming what the
    * select list does not output orders by a hidden item
    * ([[orderByOverWrapper]]). */
  private val qualifyPass: BlockPass = (text, _, blk) => {
    val cs = blk.clauses
    val q = blk.indexOf("QUALIFY")
    val from = blk.indexOf("FROM")
    if (q < 0 || from < 0 || from > q || !blk.kwsAfter(q).forall(TrailingKws.contains)) Nil
    else selectHead(text, blk).filter(_.group(2) == null).toSeq.map { m =>
      val distinct = if (m.group(1) != null) "DISTINCT " else ""
      val fromAt = cs(from).start
      val predEnd = trimmedEnd(text, cs(q).bodyStart, blk.bodyEnd(q))
      val pred = text.substring(cs(q).bodyStart, predEnd).trim
      val o = blk.lastIndexOf("ORDER BY")
      val (ord, hidden) =
        if (o < q) ("", Nil) else orderByOverWrapper(text, blk, o, clauseBody(text, blk, o).trim)
      val head = ("SELECT " + text.substring(blk.head + m.end, fromAt)).trim + s", ($pred) AS gr_qf__"
      val injected =
        hide(head + text.substring(fromAt, trimmedEnd(text, fromAt, cs(q).start)), head.length, hidden)
      val trailing =
        if (hidden.isEmpty) text.substring(predEnd, blk.end)
        else text.substring(predEnd, cs(o).bodyStart) + s" $ord " + text.substring(blk.bodyEnd(o), blk.end)
      Splice(blk.head, blk.end,
        s"SELECT $distinct* EXCEPT (${("gr_qf__" +: hidden.map(_._2)).mkString(", ")}) " +
          s"FROM ($injected) WHERE gr_qf__" + trailing)
    }
  }

  /** The trailing row-count spellings Spark lacks: MySQL's `LIMIT off,
    * n` → `LIMIT n OFFSET off`, and ANSI OFFSET/FETCH (CH accepts the
    * standard spelling): the ROW/ROWS noise words strip and FETCH
    * FIRST/NEXT lowers to LIMIT, an omitted count meaning 1 row
    * (standard and CH). `FETCH … WITH TIES` without OFFSET reshapes
    * to `LIMIT n WITH TIES` for the rank() wrap; OFFSET combined with
    * WITH TIES stays as written, and the FETCH keyword fails loudly. */
  private val lowerLimitPass: BlockPass = (text, _, blk) => {
    val cs = blk.clauses
    val k = cs.length - 1
    def is(i: Int, kw: String) = i >= 0 && cs(i).kw == kw
    def body(i: Int) = clauseBody(text, blk, i)
    def lower(i: Int, to: String) = Seq(Splice(cs(i).start, blk.end, to))
    if (is(k, "LIMIT")) limitSpec(text, cs(k).start, blk.end) match {
      case Some((off, n, null)) if off != null => lower(k, s"LIMIT $n OFFSET $off")
      case _ => Nil
    } else if (is(k, "FETCH")) body(k) match {
      case FetchRows(cnt, only) if only != null =>
        val n = Option(cnt).getOrElse("1")
        if (is(k - 1, "OFFSET")) body(k - 1) match {
          case OffsetRows(off) => lower(k - 1, s"LIMIT $n OFFSET $off")
          case _ => lower(k, s"LIMIT $n")
        } else lower(k, s"LIMIT $n")
      case _ => Nil
    } else if (is(k, "WITH TIES") && is(k - 1, "FETCH") && !is(k - 2, "OFFSET") && body(k).isBlank)
      body(k - 1) match {
        case FetchRows(cnt, null) => lower(k - 1, s"LIMIT ${Option(cnt).getOrElse("1")} WITH TIES")
        case _ => Nil
      }
    else if (is(k, "OFFSET")) body(k) match {
      case OffsetRows(off) => lower(k, s"OFFSET $off")
      case _ => Nil
    } else Nil
  }

  /** `ORDER BY … LIMIT n WITH TIES` → a rank() window wrap: every row
    * tying with the n-th row's sort key survives. The final ORDER BY
    * is the ties key — a caller needing a total output order selects
    * exactly the ORDER BY columns (ties are duplicates of the key, so
    * that order IS total). An ORDER BY item naming what the select list
    * does not output orders by a hidden item ([[orderByOverWrapper]]). */
  private val withTiesPass: BlockPass = (text, _, blk) => lastOrderBy(text, blk).toSeq.flatMap {
    case (o, ord, prefix) if blk.kwsAfter(o) == Seq("LIMIT", "WITH TIES") &&
        clauseBody(text, blk, o + 2).isBlank =>
      limitSpec(text, blk.clauses(o + 1).start, blk.clauses(o + 2).start).collect {
        case (null, n, null) =>
          val (key, hidden) = orderByOverWrapper(text, blk, o, ord)
          val from = blk.clauses.indexWhere(c => c.kw == "FROM" && c.start < blk.clauses(o).start)
          val inner = if (hidden.isEmpty) prefix else hide(prefix, blk.clauses(from).start - blk.head, hidden)
          Splice(blk.head, blk.end,
            s"""SELECT * EXCEPT (${("gr_rk__" +: hidden.map(_._2)).mkString(", ")}) FROM (
               |  SELECT *, rank() OVER (ORDER BY $key) AS gr_rk__
               |  FROM ($inner)
               |) WHERE gr_rk__ <= $n ORDER BY $key""".stripMargin)
      }
    case _ => None
  }

  /** `SELECT DISTINCT ON (k) … ORDER BY ord [LIMIT m]` — the Postgres
    * idiom CH accepts as sugar for `LIMIT 1 BY k` (per CH docs they are
    * the same operation): reshaped to that spelling for the LIMIT BY
    * pass. Without a trailing ORDER BY the surviving row per key would
    * be arbitrary — refused loudly. */
  private val distinctOnPass: BlockPass = (text, tree, blk) =>
    selectHead(text, blk).filter(_.group(2) != null).toSeq.map { m =>
      val open = blk.head + m.end - 1
      val close = tree.partnerOf(open)
      val o = blk.lastIndexOf("ORDER BY")
      val cs = blk.clauses
      if (close < 0 || o < 0 || cs(o).start < close || text.substring(open + 1, close).isBlank)
        throw new UnsupportedOperationException(
          "DISTINCT ON needs a trailing ORDER BY to define which row survives per key " +
            "(it rewrites to LIMIT 1 BY)")
      val ordEnd = trimmedEnd(text, cs(o).bodyStart, blk.bodyEnd(o))
      Splice(blk.head, blk.end,
        s"SELECT ${text.substring(close + 1, cs(o).start).trim} ORDER BY " +
          s"${text.substring(cs(o).bodyStart, ordEnd).trim} LIMIT 1 BY " +
          text.substring(open + 1, close) + text.substring(ordEnd, blk.end))
    }

  /** ClickHouse `ORDER BY … LIMIT n BY cols [LIMIT m]` (also `LIMIT
    * off, n BY` and `LIMIT n OFFSET off BY`) → a row_number window
    * wrap: rows off+1 … off+n per cols-group in the given order. BY
    * keys and ORDER BY items the select list does not output reach
    * the window as hidden items ([[hide]]). */
  private val limitByPass: BlockPass = (text, _, blk) => {
    val cs = blk.clauses
    val by = blk.lastIndexOf("BY")
    val outerLimit = blk.kwsAfter(by) match {
      case Seq() => Some("")
      case Seq("LIMIT") => limitSpec(text, cs(by + 1).start, blk.end).collect {
        case (null, l, null) => s" LIMIT $l"
      }
      case _ => None
    }
    val shape = lastOrderBy(text, blk).filter { case (o, _, _) => by > o + 1 }
      .flatMap { case (o, ord, prefix) =>
        limitSpec(text, cs(o + 1).start, cs(by).start).map((o, ord, prefix, _)) }
    (shape, outerLimit) match {
      case (Some((o, ord, prefix, (off1, n, off2))), Some(outer)) =>
        val cols = clauseBody(text, blk, by).trim
        val off = Option(off1).orElse(Option(off2)).map(_.toLong).getOrElse(0L)
        // CH allows LIMIT BY on columns the SELECT list does not carry;
        // when every BY item is a bare identifier (and the head isn't
        // DISTINCT, whose semantics an extra item would change), inject
        // aliased copies into the inner projection so the partition key
        // always resolves, then EXCEPT them back out
        val byItems = cols.split(",").map(_.trim).toSeq
        val from = cs.indexWhere(c => c.kw == "FROM" && c.start < cs(o).start)
        val inject = byItems.forall(_.matches("[A-Za-z_][\\w.]*")) && from >= 0 &&
          !selectHead(text, blk).exists(_.group(1) != null)
        val byHidden =
          if (!inject) Nil else byItems.zipWithIndex.map { case (c, i) => (c, s"gr_by_${i}__") }
        val part = if (inject) byHidden.map(_._2).mkString(", ") else cols
        val (key, obHidden) = orderByOverWrapper(text, blk, o, ord)
        val hidden = byHidden ++ obHidden
        val inner = if (hidden.isEmpty) prefix else hide(prefix, cs(from).start - blk.head, hidden)
        Seq(Splice(blk.head, blk.end,
          s"""SELECT * EXCEPT (${("gr_rn__" +: hidden.map(_._2)).mkString(", ")}) FROM (
             |  SELECT *, row_number() OVER (PARTITION BY $part ORDER BY $key) AS gr_rn__
             |  FROM ($inner)
             |) WHERE gr_rn__ > $off AND gr_rn__ <= ${off + n.toLong} ORDER BY $key$outer""".stripMargin))
      case _ => Nil
    }
  }

  /** `GROUP BY k WITH TOTALS` → `GROUP BY GROUPING SETS ((k), ())`:
    * the totals row lands inline with NULL group keys (Spark's
    * grouping-sets convention) rather than ClickHouse's separate
    * defaults-filled block — the aggregates themselves are identical. */
  private val withTotalsPass: BlockPass = (text, _, blk) => {
    val cs = blk.clauses
    cs.indices.dropRight(1).collect {
      case i if cs(i).kw == "GROUP BY" && cs(i + 1).kw == "WITH TOTALS" &&
          !clauseBody(text, blk, i).isBlank =>
        Splice(cs(i).start, cs(i + 1).bodyStart,
          s"GROUP BY GROUPING SETS ((${clauseBody(text, blk, i).trim}), ())")
    }
  }

  /** ClickHouse PREWHERE is a storage-layer filter hint; under Spark
    * the parquet scan already gets every pushable predicate, so the
    * keyword maps to plain WHERE, and `PREWHERE a WHERE b` folds both
    * predicates into one `WHERE (a) AND b`. */
  private val prewherePass: BlockPass = (text, _, blk) => {
    val cs = blk.clauses
    cs.indices.collect {
      case i if cs(i).kw == "PREWHERE" && i + 1 < cs.length && cs(i + 1).kw == "WHERE" =>
        var to = cs(i + 1).bodyStart
        while (to < text.length && text.charAt(to).isWhitespace) to += 1
        Splice(cs(i).start, to, s"WHERE (${clauseBody(text, blk, i).trim}) AND ")
      case i if cs(i).kw == "PREWHERE" => Splice(cs(i).start, cs(i).bodyStart, "WHERE")
    }
  }

  /** Rewrites each window call `name(args) OVER (spec)` whose `head`
    * (a pattern ending at the call's open paren) matches, last first so
    * a call inside another's arguments is rewritten before it. `f` gets
    * the text, the call's start and its four paren indices, and returns
    * the call's replacement, or None to leave it. */
  private def rewriteWindowCalls(sql: String, head: scala.util.matching.Regex)(
      f: (String, Int, Int, Int, Int, Int) => Option[String]): String = {
    var text = sql
    for (m <- head.findAllMatchIn(sql).toSeq.reverse) {
      val tree = ChLexer.tree(text)
      val close = tree.partnerOf(m.end - 1)
      val over = if (close < 0) None else OverSpec.findPrefixMatchOf(text.substring(close + 1))
      over.foreach { o =>
        val close2 = tree.partnerOf(close + o.end)
        if (close2 > 0) f(text, m.start, m.end - 1, close, close + o.end, close2).foreach { r =>
          text = text.substring(0, m.start) + r + text.substring(close2 + 1)
        }
      }
    }
    text
  }
  private val OverSpec = """(?i)\s*OVER\s*\(""".r

  /** ClickHouse window function `nonNegativeDerivative(metric, ts
    * [, INTERVAL n unit]) OVER (…)` → the lag-based rate expression:
    * (m − lag m) · scale / (t − lag t), clamped at 0. Spark's
    * `greatest` skips NULLs, so the frame's first row (lag = NULL)
    * and a zero time step (nullif'd denominator — ANSI division
    * would raise) both land on 0, matching CH. Any other third
    * argument is left intact and fails loudly at parse on the CH name. */
  private val NonNegDeriv = """(?i)\bnonNegativeDerivative\s*\(""".r

  private val IntervalArg = """(?i)^INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?$""".r
  private val IntervalSeconds =
    Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L)

  private def rewriteNonNegDeriv(sql: String): String =
    rewriteWindowCalls(sql, NonNegDeriv) { (text, _, open, close, open2, close2) =>
      val parts = topLevelSplit(text.substring(open + 1, close)).map(_.trim)
      val over = text.substring(open2, close2 + 1)
      val scale = parts.drop(2) match {
        case Seq(IntervalArg(n, unit)) => Some((n.toLong * IntervalSeconds(unit.toLowerCase)).toString)
        case Seq()                     => Some("1")
        case _                         => None
      }
      scale.filter(_ => parts.length >= 2).map { sc =>
        val (mx, tx) = (parts(0), parts(1))
        // CH requires a DateTime second arg, so epoch seconds via
        // unix_micros (NTZ-tolerant through the TIMESTAMP cast; a raw
        // CAST(ts AS DOUBLE) rejects TIMESTAMP_NTZ inputs).
        s"greatest(CAST(0 AS DOUBLE), (CAST($mx AS DOUBLE) - lag(CAST($mx AS DOUBLE)) OVER $over) * $sc" +
          s" / nullif((unix_micros(CAST($tx AS TIMESTAMP)) - lag(unix_micros(CAST($tx AS TIMESTAMP))) OVER $over) / 1000000.0D, CAST(0 AS DOUBLE)))"
      }
    }

  /** CH documents leadInFrame/lagInFrame with an explicit
    * UNBOUNDED..UNBOUNDED frame (where they equal plain lead/lag);
    * Spark's lead/lag reject any frame, so that exact frame strips.
    * Bounded frames keep failing loudly (their CH semantics differ). */
  private val InFrameCall = """(?i)\b(?:leadInFrame|lagInFrame)\s*\(""".r
  private val WholeFrame =
    """(?is)\s+ROWS\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+UNBOUNDED\s+FOLLOWING\s*$""".r

  private def rewriteInFrame(sql: String): String =
    rewriteWindowCalls(sql, InFrameCall) { (text, start, _, _, open2, close2) =>
      WholeFrame.findFirstMatchIn(text.substring(open2 + 1, close2))
        .map(f => text.substring(start, open2 + 1 + f.start) + ")")
    }

  private def rewriteArrayJoin(sql: String): String =
    ArrayJoinClause.replaceAllIn(sql, m => {
      val (table, left) = (m.group(1), m.group(2) != null)
      val outer         = if (left) "OUTER " else ""
      // (expr, output name, shadows-the-column?): `expr AS alias`
      // adds a new name, a bare column ident is CH's common spelling
      // where the element SHADOWS the array column (Nested explodes
      // this way too). Alias-less EXPRESSIONS (CH names the output
      // after the expression text — no Spark analog) leave the whole
      // clause untouched → loud parse failure, never silently wrong.
      val classified = topLevelSplit(m.group(3)).map(_.trim).map {
        case ArrayJoinPair(e, a) => Some((e.trim, a, false))
        case BareItem(n)         => Some((n, n, true))
        case _                   => None
      }
      if (classified.exists(_.isEmpty))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        // ONE shape for both spellings: the FROM becomes a subquery
        // (aliased back to the table name so qualified outer
        // references keep resolving) that [pos]explodes the first
        // item, zips the rest positionally via try_element_at, and
        // EXCEPTs the shadowed columns AND the gr_* helpers from `*`
        // — SELECT * never sees a phantom position column. Unequal
        // array sizes raise (CH's SIZES_OF_ARRAYS_DONT_MATCH),
        // null-safely so LEFT ARRAY JOIN's NULL arrays pass. Star
        // caveat: shadowed/added columns land at the END of the star
        // expansion, not CH's in-place position — name the columns
        // when order matters.
        val cs = classified.flatten
        val first = cs.head._1
        val single = cs.size == 1
        val view =
          if (single) s"LATERAL VIEW ${outer}explode($first) gr_aj0 AS gr_ajel0__"
          else s"LATERAL VIEW ${outer}posexplode($first) gr_aj0 AS gr_aj_pos__, gr_ajel0__"
        val helpers = if (single) Seq("gr_ajel0__") else Seq("gr_aj_pos__", "gr_ajel0__")
        val shadowed = cs.collect { case (_, n, true) => n }
        val elems = cs.zipWithIndex.map { case ((e, name, _), i) =>
          val el =
            if (i == 0) "gr_ajel0__"
            else s"CASE WHEN size($e) <=> size($first) THEN try_element_at($e, gr_aj_pos__ + 1) " +
              "ELSE raise_error('ARRAY JOIN: arrays must be equal-sized " +
              "(ClickHouse SIZES_OF_ARRAYS_DONT_MATCH)') END"
          s"$el AS $name"
        }
        scala.util.matching.Regex.quoteReplacement(
          s"FROM (SELECT * EXCEPT (${(shadowed ++ helpers).mkString(", ")}), " +
            s"${elems.mkString(", ")} FROM $table $view) $table")
      }
    })

  /** ClickHouse dialect text → Spark SQL: the passes below run over
    * [[ChLexer.mask]]'s text and the result is unmasked, so literals,
    * quoted names and comments come back byte for byte. */
  def rewriteParametric(sql: String): String = {
    // ANN probe over a vector_similarity-indexed table (round 19):
    // `SELECT … FROM t ORDER BY cosineDistance(col, [q…]) LIMIT k`
    // rewrites onto the cell-pruned IVF layout; the emitted SQL keeps
    // the [vector] literal and flows through the rewrites below like
    // any dialect text. Non-indexed / stale / non-matching shapes
    // fall through untouched — the exact scan.
    val lx = ChLexer.mask(VectorIndex.probeRewrite(sql).getOrElse(sql))
    lx.unmask(rewriteCode(lx))
  }

  private def rewriteCode(lx: ChLexer.Masked): String = {
    // `ON CLUSTER name` on DDL strips — on a single engine the
    // statement IS cluster-wide. Guarded three ways so a join
    // predicate on a column named `cluster` can't be eaten: only on
    // DDL-verb statements, only the first occurrence, and only when
    // it appears before any SELECT (i.e. in the DDL head, not inside
    // a CTAS body).
    var sql0 = lx.text
    if ("""(?is)^\s*(CREATE|DROP|ALTER|RENAME|TRUNCATE|OPTIMIZE|EXCHANGE|SYSTEM)\b""".r
          .findFirstIn(sql0).isDefined)
      """(?i)\s+ON\s+CLUSTER\s+(?:'[^']*'|`[^`]+`|[\w-]+)""".r.findFirstMatchIn(sql0).foreach { m =>
        val selIdx = """(?i)\bSELECT\b""".r.findFirstMatchIn(sql0).map(_.start).getOrElse(Int.MaxValue)
        if (m.start < selIdx) sql0 = sql0.substring(0, m.start) + sql0.substring(m.end)
      }
    // dictionary DDL parses as a COMMAND from the RAW text (CH types
    // and SOURCE/LAYOUT clauses intact) — the query rewrites below
    // would mangle its type names and clause parens
    if (CreateDictionary.findFirstIn(sql0).isDefined ||
        DropDictionary.findFirstIn(sql0).isDefined) return sql0
    // client-side trailing clauses unwind first (right to left), so
    // the end-anchored rewrites below (LIMIT BY, WITH FILL) still see
    // their clause at the end of the text
    var out = FormatClause.replaceFirstIn(sql0, "")
    // Any OUTFILE tail still present here escaped interceptOutfile —
    // an unsupported statement shape (e.g. CREATE TABLE … AS SELECT …
    // INTO OUTFILE). The clause used to strip silently (query ran, no
    // file, no error); refuse loudly instead.
    if (IntoOutfile.findFirstIn(out).isDefined)
      throw new UnsupportedOperationException(
        "INTO OUTFILE executes only as a top-level SELECT/WITH statement " +
          "(parenthesized prefixes included): write the export as its own " +
          "`SELECT … INTO OUTFILE 'path' [FORMAT f]` statement")
    out = SettingsClause.replaceFirstIn(out, "")
    out = rewriteChCreateTable(out)
    out = rewriteChCreateTableAs(out)
    out = ChCreateMatView.replaceAllIn(out, m => {
      val ine = if (m.group(1) == null) "" else "IF NOT EXISTS "
      scala.util.matching.Regex.quoteReplacement(
        s"CREATE VIEW $ine${m.group(2)} AS ${m.group(3)}")
    })
    // CH EXPLAIN flavors: AST/SYNTAX describe the parse (Spark's
    // EXTENDED shows both), PLAN/PIPELINE/ESTIMATE describe execution
    // (FORMATTED is the Spark shape of that answer)
    // SHOW DICTIONARIES → the introspection table (same snapshot)
    out = """(?is)^\s*SHOW\s+DICTIONARIES\s*;?\s*$""".r.replaceAllIn(out,
      "SELECT name FROM system.dictionaries ORDER BY name")
    out = """(?is)^\s*EXPLAIN\s+QUERY\s+TREE\b""".r.replaceAllIn(out, "EXPLAIN EXTENDED")
    out = """(?is)^\s*EXPLAIN\s+(AST|SYNTAX)\b""".r.replaceAllIn(out, "EXPLAIN EXTENDED")
    out = """(?is)^\s*EXPLAIN\s+(PLAN|PIPELINE|ESTIMATE)\b""".r.replaceAllIn(out, "EXPLAIN FORMATTED")
    // RENAME TABLE a TO b → the native ALTER spelling; the multi-pair
    // form stays intact here and executes as ChRenameTablesCommand
    // (sequential renames, interceptCommand)
    """(?is)^\s*RENAME\s+TABLE\s+([\w.]+)\s+TO\s+([\w.]+)\s*(,?)""".r.findFirstMatchIn(out).foreach { m =>
      if (m.group(3) != ",")
        out = s"ALTER TABLE ${m.group(1)} RENAME TO ${m.group(2)}"
    }
    // CHECK TABLE / EXISTS resolve at EXECUTION as commands in
    // interceptCommand (round 16 — they were parse-time snapshots
    // here, the staleness class the SHOW CREATE fix closed)
    out = rewritePasteJoin(out)
    out = rewriteInFrame(out)
    out = rewriteColumnMatchers(out, lx)
    // ALTER TABLE … DELETE/UPDATE and OPTIMIZE TABLE execute — they
    // become RunnableCommands in interceptCommand (called by
    // parsePlan on the rewritten text), not string rewrites.
    if (SystemStmt.findFirstIn(out).isDefined &&
        SystemReloadDicts.findFirstIn(out).isEmpty &&
        SystemReloadDict.findFirstIn(out).isEmpty &&
        SystemDropCache.findFirstIn(out).isEmpty)
      throw new UnsupportedOperationException(
        "SYSTEM statements administer a ClickHouse server; there is no server here — " +
          "caches and dictionaries reload per query plan (SYSTEM RELOAD DICTIONARY/" +
          "DICTIONARIES and SYSTEM DROP … CACHE do execute)")
    // KILL QUERY / KILL MUTATION administer a ClickHouse server's
    // process lists. Here mutations run SYNCHRONOUSLY inside the
    // issuing statement (there is never a pending mutation to kill)
    // and queries are Spark jobs — cancellation is the engine's
    // sparkContext.cancelJobGroup/cancelAllJobs seam, not SQL.
    if ("""(?is)^\s*KILL\s+(QUERY|MUTATION)\b""".r.findFirstIn(out).isDefined)
      throw new UnsupportedOperationException(
        "KILL QUERY/MUTATION administer a ClickHouse server's process list; mutations " +
          "here apply synchronously inside the ALTER statement (nothing is ever pending) " +
          "and running queries cancel through Spark (sparkContext.cancelJobGroup)")
    out = rewriteWithConstants(out)
    out = rewriteArrayLiterals(out)
    out = rewriteMapLiterals(out)
    out = rewriteChTypes(out)
    out = Parametric.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}(${m.group(2)}, "))
    out = QuotedDateDiff.replaceAllIn(out, "graft_dateDiff('")
    out = QuotedDateAdd.replaceAllIn(out, "graft_dateAdd('")
    out = QuotedDateSub.replaceAllIn(out, "graft_dateSub('")
    out = BareCount.replaceAllIn(out, "count(*)")
    out = rewriteGenerateRandom(out, lx)
    out = rewriteNullTableFn(out, lx)
    RemoteTableFn.findFirstMatchIn(out).foreach { m =>
      throw new UnsupportedOperationException(
        s"${m.group(1)}() addresses a different ClickHouse server and needs live egress; " +
          "land the remote table locally (file()/s3()/url()) and read it directly")
    }
    out = rewriteMergeTableFn(out, lx)
    out = rewriteClusterFn(out, lx)
    out = rewriteInsertFileFn(out, lx)
    FileTableFnLong.findFirstMatchIn(out).foreach { m =>
      throw new UnsupportedOperationException(
        s"${m.group(1)}() with more than (path, format) arguments is not modeled: " +
          "pass credentials via Hadoop conf and explicit schemas via graft.sources.Formats")
    }
    out = rewriteFileTableFn(out, lx)
    out = BareStarExcept.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"* EXCEPT (${m.group(1)})"))
    out = rewriteStarReplace(out)
    out = Untuple.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}.*"))
    if (PrewhereWord.findFirstIn(out).isDefined) out = perBlock(out, prewherePass)
    out = GlobalHint.replaceAllIn(out, "")
    out = rewriteTupleDot(out)
    out = NamedParam.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s":${m.group(1)}"))
    out = rewriteSample(out)
    out = FromFinal.replaceAllIn(out, m =>
      scala.util.matching.Regex.quoteReplacement(s"FROM ${m.group(1)}_final"))
    out = rewriteArrayJoin(out)
    out = rewriteAsofJoin(out)
    out = rewriteMultiFill(out, lx)
    out = rewriteWithFill(out, lx)
    out = SystemNumbersOffset.replaceAllIn(out, m => {
      val (n, off) = (m.group(1).toLong, m.group(2).toLong)
      s"FROM (SELECT id AS number FROM range($off, ${off + n}))"
    })
    out = SystemNumbersComma.replaceAllIn(out, m => {
      val (off, n) = (m.group(1).toLong, m.group(2).toLong)
      s"FROM (SELECT id AS number FROM range($off, ${off + n}))"
    })
    out = SystemNumbers.replaceAllIn(out, m =>
      s"FROM (SELECT id AS number FROM range(${m.group(1)}))")
    out = SystemOne.replaceAllIn(out, "FROM (SELECT 0 AS dummy)")
    out = NumbersFn.replaceAllIn(out, m => Option(m.group(2)) match {
      case Some(count) =>
        s"FROM (SELECT id AS number FROM range(${m.group(1)}, ${m.group(1).toLong + count.toLong}))"
      case None => s"FROM (SELECT id AS number FROM range(${m.group(1)}))"
    })
    out = ZerosFn.replaceAllIn(out, m =>
      s"FROM (SELECT 0 AS zero FROM range(${m.group(1)}))")
    // generate_series/generateSeries: INCLUSIVE stop (CH contract —
    // unlike numbers(), whose count form is exclusive), optional step
    out = GenerateSeriesFn.replaceAllIn(out, m => {
      val (start, stop) = (m.group(2).toLong, m.group(3).toLong)
      val step = Option(m.group(4)).map(_.toLong).getOrElse(1L)
      require(step > 0, "generate_series step must be positive")
      s"FROM (SELECT id AS generate_series FROM range($start, ${stop + 1}, $step))"
    })
    out = rewriteNonNegDeriv(out)
    if (ClauseTrigger.findFirstIn(out).isEmpty) out
    else perBlock(out, qualifyPass, lowerLimitPass, withTiesPass, distinctOnPass, limitByPass, withTotalsPass)
  }
}
