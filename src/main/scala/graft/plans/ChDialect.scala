package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DateType, DoubleType, IntegerType, LongType, NumericType, StringType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** ClickHouse-dialect SQL function names registered straight into the
  * Catalyst function registry, so SQL text produced by the reference's
  * migration (toStartOfMonth, countIf, argMax, uniq, … — see
  * /root/reference/src/corpus/orm_none.txt:483-489) runs on
  * `spark.sql(...)` verbatim, resolved to the SAME native expressions
  * the Spark built-ins use (codegen, partial aggregation and pushdown
  * all intact). No text rewriting, no UDFs.
  *
  * Parametric-aggregate syntax (`quantile(0.5)(x)`, `topK(5)(v)`) is
  * handled upstream by [[ChSqlParser]], which flattens the two call
  * lists into one; the flattened spellings resolve here (`quantile` →
  * Percentile, `topK` → [[GraftTopK]]).
  */
object ChDialect {

  private val minSampleSizeContinuousFn: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression = es => {
    val Seq(baseline, sigma, mde, power, alpha) = es.take(5).map(e => Cast(e, DoubleType))
    val z = Add(
      NormalQuantileExpr(Subtract(Literal(1.0d), Divide(alpha, Literal(2.0d)))),
      NormalQuantileExpr(power))
    val effect = Multiply(mde, baseline)
    Divide(Multiply(Multiply(Literal(2.0d), Multiply(sigma, sigma)), Multiply(z, z)),
      Multiply(effect, effect))
  }

  private def nullIfNot(cond: Expression, value: Expression): Expression =
    If(cond, value, Literal.create(null, value.dataType))

  /** CH's tuple spellings of the vector family: an INLINE tuple(…)
    * literal adapts to the array form (struct columns stay as-is and
    * fail type-check with the array guidance). */
  private def tupArr(e: Expression): Expression = e match {
    case cns: CreateNamedStruct => CreateArray(cns.valExprs)
    case other => other
  }

  private lazy val fnMap: Map[String, Seq[Expression] => Expression] = functions.toMap

  /** Generic -If combinator over a dialect-registered base: the
    * condition NULLs out the LAST data argument (CH -If skips the
    * row; every base routed here ignores NULL inputs). Parametric
    * prefixes (quantilesIf(p…)(x, cond)) arrive flattened, so the
    * params ride through untouched. */
  private def ifWrapLast(base: String)(es: Seq[Expression]): Expression = {
    require(es.length >= 2, s"${base}If needs (args…, cond)")
    val cond = es.last
    val args = es.init
    fnMap(base)(args.init :+ nullIfNot(cond, args.last))
  }

  /** Accumulator type for the running-sum/difference array kernels:
    * integral elements keep integral sums (CH returns Int64 for
    * arrayCumSum of ints, never Float — the round-18 dialect fuzz
    * caught the unconditional Double). Double for floats/decimals.
    * The type is BAKED at build time, so an unresolved child must
    * fail loudly here: silently defaulting to Double would reintroduce
    * the exact integral-sums-in-Double bug on any future direct-
    * construction call path (round-19 ADVICE). The registered-function
    * path always arrives resolved — the analyzer only invokes builders
    * once children are resolved. */
  private def cumAccType(arr: Expression): DataType =
    if (!arr.resolved) throw new IllegalStateException(
      "arrayCumSum/arrayCumSumNonNegative/arrayDifference bake their accumulator type from " +
        "the array element type at build time; got an UNRESOLVED child — resolve the argument " +
        "before constructing the kernel (a silent Double default would diverge from CH's " +
        "integral sums)")
    else arr.dataType match {
      case ArrayType(et, _) if et == org.apache.spark.sql.types.ByteType ||
        et == org.apache.spark.sql.types.ShortType ||
        et == IntegerType || et == LongType => LongType
      case _ => DoubleType
    }

  private def lamVar(name: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(name))

  /** `aggregate(arr, 0.0, (acc, x) -> acc + double(x), finish)` — the
    * shared fold under arraySum/arrayAvg. */
  private def sumFold(arr: Expression, finish: LambdaFunction): ArrayAggregate = {
    val acc = lamVar("gr_acc")
    val x   = lamVar("gr_x")
    ArrayAggregate(arr, Literal(0.0d),
      LambdaFunction(Add(acc, Cast(x, DoubleType)), Seq(acc, x)),
      finish)
  }

  /** Pairwise fold Σ f(aᵢ, bᵢ) over two arrays (distance kernels). The
    * zipped items are cast to double INSIDE f, so every kernel
    * accumulates in double precision regardless of element type. */
  private def zipFold(a: Expression, b: Expression,
                      f: (Expression, Expression) => Expression): Expression = {
    val x = lamVar("gr_zx")
    val y = lamVar("gr_zy")
    sumFold(ZipWith(a, b,
      LambdaFunction(f(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y))),
      LambdaFunction.identity)
  }

  /** name → (arity check, expression builder). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = baseFns ++ emptyArrayFns

  private def baseFns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // -- vector math (ClickHouse's L2Distance/cosineDistance family).
    // dot products resolve to the codegen'd [[DotProduct]] expression
    // (the same kernel behind graft_dot and the ANN operators);
    // distance folds accumulate left-to-right in double precision, the
    // precision contract the DuckDB oracles replay. CH also spells
    // these over TUPLES — inline tuple(…) literals adapt to arrays.
    "dotProduct" -> (es => DotProduct(tupArr(es(0)), tupArr(es(1)))),
    "L2Norm"     -> (es => Sqrt(DotProduct(es.head, es.head))),
    "L1Norm"     -> (es => {
      val x = lamVar("gr_x")
      sumFold(ArrayTransform(es.head,
        LambdaFunction(Abs(Cast(x, DoubleType)), Seq(x))), LambdaFunction.identity)
    }),
    "LinfNorm"   -> (es => {
      val x = lamVar("gr_x")
      ArrayMax(ArrayTransform(es.head, LambdaFunction(Abs(Cast(x, DoubleType)), Seq(x))))
    }),
    "L2SquaredDistance" -> (es =>
      zipFold(tupArr(es(0)), tupArr(es(1)), (x, y) => Multiply(Subtract(x, y), Subtract(x, y)))),
    "L2Distance" -> (es =>
      Sqrt(zipFold(tupArr(es(0)), tupArr(es(1)), (x, y) => Multiply(Subtract(x, y), Subtract(x, y))))),
    "L1Distance" -> (es =>
      zipFold(tupArr(es(0)), tupArr(es(1)), (x, y) => Abs(Subtract(x, y)))),
    // unit-scaled copies; the norm subtree is shared by codegen CSE
    // (L1Normalize/L2Normalize are CH's official casings; the
    // normalize* spellings are kept as aliases)
    "L1Normalize" -> (es => {
      val x = lamVar("gr_n1_x")
      val norm = sumFold(ArrayTransform(es.head,
        LambdaFunction(Abs(Cast(x, DoubleType)), Seq(x))), LambdaFunction.identity)
      val y = lamVar("gr_n1_y")
      ArrayTransform(es.head,
        LambdaFunction(Divide(Cast(y, DoubleType), norm), Seq(y)))
    }),
    "normalizeL1" -> (es => {
      val x = lamVar("gr_n1_x")
      val norm = sumFold(ArrayTransform(es.head,
        LambdaFunction(Abs(Cast(x, DoubleType)), Seq(x))), LambdaFunction.identity)
      val y = lamVar("gr_n1_y")
      ArrayTransform(es.head,
        LambdaFunction(Divide(Cast(y, DoubleType), norm), Seq(y)))
    }),
    "normalizeL2" -> (es => {
      val norm = Sqrt(DotProduct(es.head, es.head))
      val y = lamVar("gr_n2_y")
      ArrayTransform(es.head,
        LambdaFunction(Divide(Cast(y, DoubleType), norm), Seq(y)))
    }),
    "vectorSum"        -> (es => tupleZip(es(0), es(1), Add(_, _))),
    "vectorDifference" -> (es => tupleZip(es(0), es(1), Subtract(_, _))),
    // consecutive n-slices of an array (the array n-gram helper)
    "arrayShingles" -> (es => {
      val n = Cast(es(1), IntegerType)
      val i = lamVar("gr_sh_i")
      ArrayTransform(oneToN(Add(Subtract(Size(es.head), n), Literal(1))),
        LambdaFunction(Slice(es.head, i, n), Seq(i)))
    }),
    "LinfDistance" -> (es => {
      val x = lamVar("gr_zx")
      val y = lamVar("gr_zy")
      ArrayMax(ZipWith(es(0), es(1),
        LambdaFunction(Abs(Subtract(Cast(x, DoubleType), Cast(y, DoubleType))), Seq(x, y))))
    }),
    "cosineDistance" -> (es => { val (a, b) = (tupArr(es(0)), tupArr(es(1)))
      Subtract(Literal(1.0d),
      Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))) }),
    "cosineSimilarity" -> (es => { val (a, b) = (tupArr(es(0)), tupArr(es(1)))
      Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b)))) }),
    "innerProduct"  -> (es => DotProduct(tupArr(es(0)), tupArr(es(1)))),
    "L2SquaredNorm" -> (es => DotProduct(es.head, es.head)),
    "L2Normalize" -> (es => {
      val x = lamVar("gr_x")
      ArrayTransform(es.head,
        LambdaFunction(Divide(Cast(x, DoubleType), Sqrt(DotProduct(es.head, es.head))), Seq(x)))
    }),
    "toStartOfYear"  -> (es => TruncTimestamp(Literal("year"), es.head)),
    "toStartOfMonth" -> (es => TruncTimestamp(Literal("month"), es.head)),
    // ClickHouse default mode 0 = Sunday-start: trunc(ts + 1d) - 1d
    "toStartOfWeek"  -> (es => TimestampAddInterval(
      TruncTimestamp(Literal("week"),
        TimestampAddInterval(es.head, Literal(new CalendarInterval(0, 1, 0L)))),
      Literal(new CalendarInterval(0, -1, 0L)))),
    "toMonday"       -> (es => TruncTimestamp(Literal("week"), es.head)),
    "toStartOfDay"   -> (es => TruncTimestamp(Literal("day"), es.head)),
    "toStartOfHour"  -> (es => TruncTimestamp(Literal("hour"), es.head)),
    // time-of-day mapped onto CH's fixed anchor date 1970-01-02
    "toTime" -> (es => MicrosToTimestamp(Add(Literal(86400000000L),
      Pmod(UnixMicros(Cast(es.head, TimestampType)), Literal(86400000000L))))),
    // same instant re-expressed in the target zone's wall clock
    "toTimezone" -> (es => new FromUTCTimestamp(Cast(es(0), TimestampType), es(1))),
    // Modified Julian Day: days since 1858-11-17
    "toModifiedJulianDay"   -> (es => Cast(DateDiff(Cast(es.head, DateType),
      Literal.create(-40587, DateType)), LongType)),
    "fromModifiedJulianDay" -> (es => DateAdd(Literal.create(-40587, DateType),
      Cast(es.head, IntegerType))),
    // OrNull forms: try-parse feeds the same arithmetic, nulls ride
    "toModifiedJulianDayOrNull" -> (es => Cast(DateDiff(tryCastTo(es.head, DateType),
      Literal.create(-40587, DateType)), LongType)),
    "fromModifiedJulianDayOrNull" -> (es => DateAdd(Literal.create(-40587, DateType),
      tryCastTo(es.head, IntegerType))),
    // days since 0000-01-01 (proleptic Gregorian; 719528 days to epoch)
    "toDaysSinceYearZero"   -> (es => Add(Cast(DateDiff(Cast(es.head, DateType),
      Literal.create(0, DateType)), LongType), Literal(719528L))),
    "fromDaysSinceYearZero" -> (es => DateAdd(Literal.create(0, DateType),
      Cast(Subtract(Cast(es.head, LongType), Literal(719528L)), IntegerType))),
    // Twitter-epoch snowflake ids: ms = (id >> 22) + 1288834974657
    "snowflakeToDateTime" -> (es => MicrosToTimestamp(Multiply(
      Add(ShiftRight(Cast(es.head, LongType), Literal(22)), Literal(1288834974657L)),
      Literal(1000L)))),
    "dateTimeToSnowflake" -> (es => ShiftLeft(Subtract(
      Cast(Divide(Cast(UnixMicros(Cast(es.head, TimestampType)), DoubleType), Literal(1000.0d)), LongType),
      Literal(1288834974657L)), Literal(22))),
    // the 64-suffixed snowflake pair is the same arithmetic — the
    // DateTime64 spelling only widens the printed precision
    "snowflakeToDateTime64" -> (es => MicrosToTimestamp(Multiply(
      Add(ShiftRight(Cast(es.head, LongType), Literal(22)), Literal(1288834974657L)),
      Literal(1000L)))),
    "dateTime64ToSnowflake" -> (es => ShiftLeft(Subtract(
      Cast(Divide(Cast(UnixMicros(Cast(es.head, TimestampType)), DoubleType), Literal(1000.0d)), LongType),
      Literal(1288834974657L)), Literal(22))),
    // the ID-suffixed trio is the UNIX-epoch generation (the pair CH
    // introduced alongside generateSnowflakeID): 41-bit unix-ms,
    // 10-bit machine — the Spark PARTITION id, each task its own
    // generator — and a 12-bit sequence from the partition-local
    // monotonic counter. Timestamp folds per query (CurrentTimestamp
    // — same documented difference as generateUUIDv7), so the
    // sequence-overflow rule CH applies per generator (advance the
    // timestamp when the 12-bit sequence wraps) is applied
    // arithmetically: the counter's overflow bits (counter >> 12)
    // advance the ms field, counter & 4095 stays the sequence — ids
    // are unique for ANY partition size (up to the counter's 2^33
    // row bound), not just 4096 rows, exactly as if the generator
    // had emitted 4096 ids per simulated millisecond.
    "generateSnowflakeID" -> { _ =>
      val counter = BitwiseAnd(MonotonicallyIncreasingID(), Literal((1L << 33) - 1))
      BitwiseOr(BitwiseOr(
        ShiftLeft(Add(UnixMillis(CurrentTimestamp()), ShiftRight(counter, Literal(12))),
          Literal(22)),
        ShiftLeft(BitwiseAnd(Cast(SparkPartitionID(), LongType), Literal(1023L)), Literal(12))),
        BitwiseAnd(counter, Literal(4095L)))
    },
    "snowflakeIDToDateTime" -> (es => MillisToTimestamp(
      ShiftRight(Cast(es.head, LongType), Literal(22)))),
    "snowflakeIDToDateTime64" -> (es => MillisToTimestamp(
      ShiftRight(Cast(es.head, LongType), Literal(22)))),
    "dateTimeToSnowflakeID" -> (es => ShiftLeft(
      UnixMillis(Cast(es.head, TimestampType)), Literal(22))),
    "dateTime64ToSnowflakeID" -> (es => ShiftLeft(
      UnixMillis(Cast(es.head, TimestampType)), Literal(22))),
    // Spark timestamps are instants rendered in the session zone;
    // toTimeZone's "same instant, different wall clock" is
    // from_utc_timestamp under the session's pinned-UTC convention
    // (GraftSession sets spark.sql.session.timeZone=UTC)
    "toTimeZone" -> (es => FromUTCTimestamp(Cast(es.head, TimestampType), es(1))),
    "timeZoneOf" -> (_ => CurrentTimeZone()),
    "timezoneOf" -> (_ => CurrentTimeZone()),
    "timeZone"   -> (_ => CurrentTimeZone()),
    "timezone"   -> (_ => CurrentTimeZone()),
    "serverTimeZone" -> (_ => CurrentTimeZone()),
    "serverTimezone" -> (_ => CurrentTimeZone()),
    "UTCTimestamp"   -> (_ => CurrentTimestamp()),
    "now64" -> (_ => CurrentTimestamp()),
    // Monday of ISO week 1: the ISO year is the year of the week's
    // Thursday; week 1 contains Jan 4
    "toStartOfISOYear" -> (es => {
      val d = Cast(es.head, DateType)
      val isoYear = Year(DateAdd(d, Subtract(Literal(3), WeekDay(d))))
      val jan4 = MakeDate(isoYear, Literal(1), Literal(4))
      DateSub(jan4, WeekDay(jan4))
    }),
    // makeDate(y, m, d) and CH's 2-arg day-of-year form
    "makeDate" -> (es => es match {
      case Seq(y, m, d) => MakeDate(Cast(y, IntegerType), Cast(m, IntegerType), Cast(d, IntegerType))
      case Seq(y, doy)  => DateAdd(MakeDate(Cast(y, IntegerType), Literal(1), Literal(1)),
        Cast(Subtract(Cast(doy, LongType), Literal(1L)), IntegerType))
      case _ => throw new IllegalArgumentException("makeDate takes (year, month, day) or (year, dayofyear)")
    }),
    // Date32 carries the same calendar on a wider range; Spark DATE
    // already covers it, so the 32 spelling is the same construction
    "makeDate32" -> (es =>
      MakeDate(Cast(es(0), IntegerType), Cast(es(1), IntegerType), Cast(es(2), IntegerType))),
    "makeDateTime" -> (es => MakeTimestamp(
      Cast(es(0), IntegerType), Cast(es(1), IntegerType), Cast(es(2), IntegerType),
      Cast(es(3), IntegerType), Cast(es(4), IntegerType),
      Cast(es(5), org.apache.spark.sql.types.DecimalType(16, 6)))),
    "makeDateTime64" -> (es => MakeTimestamp(
      Cast(es(0), IntegerType), Cast(es(1), IntegerType), Cast(es(2), IntegerType),
      Cast(es(3), IntegerType), Cast(es(4), IntegerType),
      Cast(es(5), org.apache.spark.sql.types.DecimalType(16, 6)))),
    // sub-second truncation: Spark's native resolution is micros, so
    // micro/nano starts are the identity on that axis. Pmod (not a
    // truncating divide) keeps pre-epoch values flooring DOWN.
    "toStartOfMillisecond" -> (es => {
      val us = UnixMicros(Cast(es.head, TimestampType))
      MicrosToTimestamp(Subtract(us, Pmod(us, Literal(1000L))))
    }),
    "toStartOfMicrosecond" -> (es => Cast(es.head, TimestampType)),
    "toStartOfNanosecond"  -> (es => Cast(es.head, TimestampType)),
    // changeYear/…/changeSecond: recompose via make_timestamp with
    // one field swapped (changeSecond drops the sub-second fraction,
    // which is what setting the seconds field means)
    "changeYear"   -> (es => changeField(es, 0)),
    "changeMonth"  -> (es => changeField(es, 1)),
    "changeDay"    -> (es => changeField(es, 2)),
    "changeHour"   -> (es => changeField(es, 3)),
    "changeMinute" -> (es => changeField(es, 4)),
    "changeSecond" -> (es => changeField(es, 5)),
    // quoted-unit dateAdd/dateSub (ChSqlParser routes the CH quoted
    // spellings here; unquoted units parse in Spark's own grammar): a
    // MakeInterval in the unit's slot — Add(timestamp, interval)
    // resolves to the native TimeAdd
    "graft_dateAdd" -> (es => Add(Cast(es(2), TimestampType),
      chUnitInterval(litString(es(0), "dateAdd unit"), Cast(es(1), IntegerType)))),
    "graft_dateSub" -> (es => Add(Cast(es(2), TimestampType),
      chUnitInterval(litString(es(0), "dateSub unit"), UnaryMinus(Cast(es(1), IntegerType))))),
    // addDate/subDate take an interval value directly
    "addDate" -> (es => Add(Cast(es(0), TimestampType), es(1))),
    "subDate" -> (es => Subtract(Cast(es(0), TimestampType), es(1))),
    "addMilliseconds" -> (es => MicrosToTimestamp(Add(
      UnixMicros(Cast(es(0), TimestampType)), Multiply(Cast(es(1), LongType), Literal(1000L))))),
    "addMicroseconds" -> (es => MicrosToTimestamp(Add(
      UnixMicros(Cast(es(0), TimestampType)), Cast(es(1), LongType)))),
    // nanos truncate to the µs axis (Spark's native resolution)
    "addNanoseconds" -> (es => MicrosToTimestamp(Add(
      UnixMicros(Cast(es(0), TimestampType)),
      Cast(Divide(Cast(es(1), DoubleType), Literal(1000.0d)), LongType)))),
    "subtractMilliseconds" -> (es => MicrosToTimestamp(Subtract(
      UnixMicros(Cast(es(0), TimestampType)), Multiply(Cast(es(1), LongType), Literal(1000L))))),
    "subtractMicroseconds" -> (es => MicrosToTimestamp(Subtract(
      UnixMicros(Cast(es(0), TimestampType)), Cast(es(1), LongType)))),
    "subtractNanoseconds" -> (es => MicrosToTimestamp(Subtract(
      UnixMicros(Cast(es(0), TimestampType)),
      Cast(Divide(Cast(es(1), DoubleType), Literal(1000.0d)), LongType)))),
    // sub-second components
    "toMillisecond" -> (es => Cast(new IntegralDivide(
      Pmod(UnixMicros(Cast(es.head, TimestampType)), Literal(1000000L)),
      Literal(1000L)), IntegerType)),
    "toMicrosecond" -> (es => Cast(
      Pmod(UnixMicros(Cast(es.head, TimestampType)), Literal(1000000L)), IntegerType)),
    // packed-digit constructors: 20240506 → date
    "YYYYMMDDToDate" -> (es => {
      val n = Cast(es.head, LongType)
      MakeDate(
        Cast(new IntegralDivide(n, Literal(10000L)), IntegerType),
        Cast(Pmod(new IntegralDivide(n, Literal(100L)), Literal(100L)), IntegerType),
        Cast(Pmod(n, Literal(100L)), IntegerType))
    }),
    "YYYYMMDDhhmmssToDateTime" -> (es => {
      val n = Cast(es.head, LongType)
      MakeTimestamp(
        Cast(new IntegralDivide(n, Literal(10000000000L)), IntegerType),
        Cast(Pmod(new IntegralDivide(n, Literal(100000000L)), Literal(100L)), IntegerType),
        Cast(Pmod(new IntegralDivide(n, Literal(1000000L)), Literal(100L)), IntegerType),
        Cast(Pmod(new IntegralDivide(n, Literal(10000L)), Literal(100L)), IntegerType),
        Cast(Pmod(new IntegralDivide(n, Literal(100L)), Literal(100L)), IntegerType),
        Cast(Pmod(n, Literal(100L)), org.apache.spark.sql.types.DecimalType(16, 6)))
    }),
    // seconds from first to second (the dateDiff('second') shorthand)
    "timeDiff" -> (es => Subtract(
      Cast(Cast(es(1), TimestampType), LongType),
      Cast(Cast(es(0), TimestampType), LongType))),
    // interval constructors (compose with toStartOfInterval)
    "toIntervalSecond"  -> (es => MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(es.head, org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalMinute"  -> (es => MakeDTInterval(Literal(0), Literal(0), Cast(es.head, IntegerType),
      Literal.create(org.apache.spark.sql.types.Decimal(0, 18, 6), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalHour"    -> (es => MakeDTInterval(Literal(0), Cast(es.head, IntegerType), Literal(0),
      Literal.create(org.apache.spark.sql.types.Decimal(0, 18, 6), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalDay"     -> (es => MakeDTInterval(Cast(es.head, IntegerType), Literal(0), Literal(0),
      Literal.create(org.apache.spark.sql.types.Decimal(0, 18, 6), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalWeek"    -> (es => MakeDTInterval(Multiply(Cast(es.head, IntegerType), Literal(7)),
      Literal(0), Literal(0),
      Literal.create(org.apache.spark.sql.types.Decimal(0, 18, 6), org.apache.spark.sql.types.DecimalType(18, 6)))),
    // sub-second constructors: decimal seconds (ns truncates to the
    // engine's µs axis, documented in SURVEY §5)
    "toIntervalMillisecond" -> (es => MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(Divide(Cast(es.head, DoubleType), Literal(1e3)), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalMicrosecond" -> (es => MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(Divide(Cast(es.head, DoubleType), Literal(1e6)), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalNanosecond" -> (es => MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(Divide(Cast(es.head, DoubleType), Literal(1e9)), org.apache.spark.sql.types.DecimalType(18, 6)))),
    "toIntervalMonth"   -> (es => MakeYMInterval(Literal(0), Cast(es.head, IntegerType))),
    "toIntervalQuarter" -> (es => MakeYMInterval(Literal(0), Multiply(Cast(es.head, IntegerType), Literal(3)))),
    "toIntervalYear"    -> (es => MakeYMInterval(Cast(es.head, IntegerType), Literal(0))),
    // generic n-unit bucketing: `toStartOfInterval(t, INTERVAL 15
    // MINUTE)`. Time-unit widths floor the µs axis with pmod (exact,
    // negative-safe); month-granular widths floor the months-since-
    // epoch axis and return a DATE, CH's return type at that grain.
    "toStartOfInterval" -> (es => {
      val t = es.head
      def monthly(months: Int): Expression = {
        val monthsSince = Add(
          Multiply(Subtract(Year(t), Literal(1970)), Literal(12)),
          Subtract(Month(t), Literal(1)))
        val floored = Subtract(monthsSince, Pmod(monthsSince, Literal(months)))
        AddMonths(Literal.create(0, DateType), floored)
      }
      def timed(widthUs: Long): Expression = {
        require(widthUs > 0, "toStartOfInterval: zero-length interval")
        val us = UnixMicros(Cast(t, TimestampType))
        MicrosToTimestamp(Subtract(us, Pmod(us, Literal(widthUs))))
      }
      (es(1).dataType, es(1).eval()) match {
        case (_: org.apache.spark.sql.types.YearMonthIntervalType, m: java.lang.Integer) =>
          monthly(m.intValue())
        case (_: org.apache.spark.sql.types.DayTimeIntervalType, us: java.lang.Long) =>
          timed(us.longValue())
        case (org.apache.spark.sql.types.CalendarIntervalType, ci: CalendarInterval) =>
          if (ci.months > 0) {
            require(ci.days == 0 && ci.microseconds == 0,
              "toStartOfInterval: mixed month/day-time intervals are unsupported")
            monthly(ci.months)
          } else timed(ci.days * 86400000000L + ci.microseconds)
        case (_, other) => throw new IllegalArgumentException(
          s"toStartOfInterval expects an INTERVAL literal, got $other")
      }
    }),
    // streaming-SQL window TVF spellings as scalars: tumble gives the
    // containing fixed window's bounds, hop the bounds of the slot-
    // aligned window (day-time interval literals only — month-grain
    // windows aren't fixed-width)
    "tumbleStart" -> (es => windowFloor(es(0), intervalMicros(es(1), "tumbleStart"))),
    "tumbleEnd" -> (es => {
      val w = intervalMicros(es(1), "tumbleEnd")
      MicrosToTimestamp(Add(UnixMicros(Cast(windowFloor(es(0), w), TimestampType)), Literal(w)))
    }),
    "tumble" -> (es => {
      val w = intervalMicros(es(1), "tumble")
      val start = windowFloor(es(0), w)
      CreateNamedStruct(Seq(
        Literal("start"), start,
        Literal("end"), MicrosToTimestamp(Add(UnixMicros(Cast(start, TimestampType)), Literal(w)))))
    }),
    "hopStart" -> (es => windowFloor(es(0), intervalMicros(es(1), "hopStart"))),
    "hopEnd" -> (es => {
      val hop = intervalMicros(es(1), "hopEnd")
      val size = intervalMicros(es(2), "hopEnd")
      MicrosToTimestamp(Add(UnixMicros(Cast(windowFloor(es(0), hop), TimestampType)), Literal(size)))
    }),
    "hop" -> (es => {
      val hop = intervalMicros(es(1), "hop")
      val size = intervalMicros(es(2), "hop")
      val start = windowFloor(es(0), hop)
      CreateNamedStruct(Seq(
        Literal("start"), start,
        Literal("end"), MicrosToTimestamp(Add(UnixMicros(Cast(start, TimestampType)), Literal(size)))))
    }),
    "toStartOfQuarter" -> (es => TruncTimestamp(Literal("quarter"), es.head)),
    "toStartOfMinute"  -> (es => TruncTimestamp(Literal("minute"), es.head)),
    // fixed sub-hour buckets: epoch-second integer division, the same
    // arithmetic ClickHouse uses (UTC session timezone per SURVEY §5)
    "toStartOfFiveMinutes"    -> (es => secondBucket(es.head, 300L)),
    "toStartOfTenMinutes"     -> (es => secondBucket(es.head, 600L)),
    "toStartOfFifteenMinutes" -> (es => secondBucket(es.head, 900L)),
    // the legacy singular spellings
    "toStartOfFiveMinute"    -> (es => secondBucket(es.head, 300L)),
    "toStartOfTenMinute"     -> (es => secondBucket(es.head, 600L)),
    "toStartOfFifteenMinute" -> (es => secondBucket(es.head, 900L)),
    "toLastDayOfMonth" -> (es => LastDay(Cast(es.head, DateType))),
    // CH mode 0 (the default, Sunday-START weeks like toStartOfWeek)
    // rounds UP to Saturday; odd modes (Monday-start) round up to
    // Sunday. WeekDay: Monday = 0 … Sunday = 6.
    "toLastDayOfWeek" -> (es => {
      val d = Cast(es.head, DateType)
      val wd = WeekDay(d)
      val sundayEnd = weekMode(es) % 2 == 1
      DateAdd(d, Pmod(Subtract(Literal(if (sundayEnd) 6 else 5), wd), Literal(7)))
    }),
    "monthName" -> (es => DateFormatClass(es.head, Literal("MMMM"))),
    "toYYYYMM"       -> (es => DateFormatClass(es.head, Literal("yyyyMM"))),
    "toDate"         -> (es => Cast(es.head, DateType)),
    "argMax"         -> (es => MaxBy(es(0), es(1))),
    "argMin"         -> (es => MinBy(es(0), es(1))),
    // -If combinators: max_by/min_by skip rows whose ordering key is
    // NULL, so nulling the key where the condition fails IS the filter
    "argMaxIf"       -> (es => MaxBy(es(0), nullIfNot(es(2), es(1)))),
    "argMinIf"       -> (es => MinBy(es(0), nullIfNot(es(2), es(1)))),
    "identity"       -> (es => es.head),
    // spelled aliases of the codegen'd dot-product kernel (cast
    // covers decimal/int literal arrays)
    "arrayDotProduct" -> (es => DotProduct(
      Cast(es(0), org.apache.spark.sql.types.ArrayType(DoubleType)),
      Cast(es(1), org.apache.spark.sql.types.ArrayType(DoubleType)))),
    "scalarProduct"   -> (es => DotProduct(
      Cast(es(0), org.apache.spark.sql.types.ArrayType(DoubleType)),
      Cast(es(1), org.apache.spark.sql.types.ArrayType(DoubleType)))),
    // canonical key-ordered maps (entry order is presentation order)
    "mapSort"        -> (es => MapFromEntries(SortArray(MapEntries(es.head), Literal(true)))),
    "mapReverseSort" -> (es => MapFromEntries(SortArray(MapEntries(es.head), Literal(false)))),
    // pairwise matrices over k columns: k² native moment aggregates
    // in ONE pass (array-of-arrays output, row-major)
    "corrMatrix" -> (es => CreateArray(es.map(x =>
      CreateArray(es.map(y => Corr(Cast(x, DoubleType), Cast(y, DoubleType)).toAggregateExpression()))))),
    "covarPopMatrix" -> (es => CreateArray(es.map(x =>
      CreateArray(es.map(y => CovPopulation(Cast(x, DoubleType), Cast(y, DoubleType)).toAggregateExpression()))))),
    "covarSampMatrix" -> (es => CreateArray(es.map(x =>
      CreateArray(es.map(y => CovSample(Cast(x, DoubleType), Cast(y, DoubleType)).toAggregateExpression()))))),
    // multi-argument uniq counts distinct TUPLES (CH semantics):
    // the args pack into a struct for the sketch
    "uniq" -> (es => HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es))),
    "countIf"        -> (es => CountIf(es.head)),
    "sumIf"          -> (es => Sum(nullIfNot(es(1), es(0)))),
    "avgIf"          -> (es => Average(nullIfNot(es(1), es(0)))),
    "maxIf"          -> (es => Max(nullIfNot(es(1), es(0)))),
    "minIf"          -> (es => Min(nullIfNot(es(1), es(0)))),
    // JSONExtract* take ClickHouse's multi-part paths: string parts
    // are keys, integer literal parts are 1-based array indices
    // (`JSONExtractString(j, 'tags', 1)`); a non-literal part stays a
    // dynamic key. get_json_object unquotes string leaves, so
    // JSONExtractRaw of a string value is the bare text (objects,
    // arrays and numbers round-trip verbatim) — documented deviation.
    "JSONExtractInt"    -> (es => Cast(jsonGet(es), LongType)),
    "JSONExtractUInt"   -> (es => Cast(jsonGet(es), LongType)),
    "JSONExtractFloat"  -> (es => Cast(jsonGet(es), DoubleType)),
    "JSONExtractBool"   -> (es => Cast(jsonGet(es), org.apache.spark.sql.types.BooleanType)),
    "JSONExtractString" -> (es => jsonGet(es)),
    "JSONExtractRaw"    -> (es => jsonGet(es)),
    "JSONExtractKeys"   -> (es => JsonObjectKeys(jsonGet(es))),
    // (key, value-as-T) pairs of an object; the trailing literal
    // names the CH value type. Values pull through get_json_object
    // per key — dynamic paths are allowed there.
    "JSONExtractKeysAndValues" -> (es => {
      require(es.length >= 2,
        "JSONExtractKeysAndValues needs the value type as its last argument " +
          "(CH semantics), e.g. JSONExtractKeysAndValues(json, 'Int64')")
      val obj = jsonGet(es.init)
      val vt = chScalarType(litString(es.last, "JSONExtractKeysAndValues type"))
      val k = lamVar("gr_kv_k")
      ArrayTransform(JsonObjectKeys(obj),
        LambdaFunction(CreateNamedStruct(Seq(
          Literal("key"), k,
          Literal("value"),
          Cast(GetJsonObject(obj, Concat(Seq(Literal("$."), k))), vt))), Seq(k)))
    }),
    "JSONExtractKeysAndValuesRaw" -> (es => {
      val obj = jsonGet(es)
      val k = lamVar("gr_kvr_k")
      ArrayTransform(JsonObjectKeys(obj),
        LambdaFunction(CreateNamedStruct(Seq(
          Literal("key"), k,
          Literal("value"),
          GetJsonObject(obj, Concat(Seq(Literal("$."), k))))), Seq(k)))
    }),
    // each top-level array element as its raw JSON text (the CH idiom
    // for iterating arrays of objects: ArrayRaw → per-element
    // JSONExtract). Jackson kernel, not get_json_object('$[i]') —
    // the latter UNQUOTES string scalars, breaking the raw contract
    // for arrays of strings.
    "JSONExtractArrayRaw" -> (es =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.JsonKernels"),
        org.apache.spark.sql.types.ArrayType(StringType), "arrayRaw", Seq(jsonGet(es)))),
    "JSONHas"      -> (es => Not(IsNull(jsonGet(es)))),
    "JSONArrayLength" -> (es => LengthOfJsonArray(es.head)),
    // legacy flat-scan spellings (simpleJSON*/visitParam*) — on the
    // JSON documents this engine stores they are exactly the
    // path-one-deep extraction
    "simpleJSONExtractString" -> (es => jsonGet(es)),
    "simpleJSONExtractRaw"    -> (es => jsonGet(es)),
    "simpleJSONExtractInt"    -> (es => tryCastTo(jsonGet(es), LongType)),
    "simpleJSONExtractUInt"   -> (es => tryCastTo(jsonGet(es), LongType)),
    "simpleJSONExtractFloat"  -> (es => tryCastTo(jsonGet(es), DoubleType)),
    "simpleJSONExtractBool"   -> (es => tryCastTo(jsonGet(es), org.apache.spark.sql.types.BooleanType)),
    "simpleJSONHas"           -> (es => Not(IsNull(jsonGet(es)))),
    "visitParamExtractString" -> (es => jsonGet(es)),
    "visitParamExtractRaw"    -> (es => jsonGet(es)),
    "visitParamExtractInt"    -> (es => tryCastTo(jsonGet(es), LongType)),
    "visitParamExtractUInt"   -> (es => tryCastTo(jsonGet(es), LongType)),
    "visitParamExtractFloat"  -> (es => tryCastTo(jsonGet(es), DoubleType)),
    "visitParamExtractBool"   -> (es => tryCastTo(jsonGet(es), org.apache.spark.sql.types.BooleanType)),
    "visitParamHas"           -> (es => Not(IsNull(jsonGet(es)))),
    "isValidJSON"  -> (es => Not(IsNull(GetJsonObject(es.head, Literal("$"))))),
    // RFC 7386 merge patch (left-fold over 2+ documents)
    "JSONMergePatch" -> (es => es.reduce((l, r) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.JsonKernels"),
        org.apache.spark.sql.types.StringType, "mergePatch", Seq(l, r)))),
    // JSONLength: array length for arrays, key count for objects —
    // the two cases CH defines.
    "JSONLength" -> (es => {
      val raw = jsonGet(es)
      If(StartsWith(raw, Literal("[")), LengthOfJsonArray(raw), Size(JsonObjectKeys(raw)))
    }),
    // JSONType over the raw text shape. String leaves arrive unquoted
    // from get_json_object (above), so bare text classifies as
    // 'String' only through the fallthrough — exact for the
    // object/array/bool/number cases the oracle exercises.
    "JSONType" -> (es => {
      val raw = new StringTrim(jsonGet(es))
      CaseWhen(Seq(
        (IsNull(raw), Literal("Null")),
        (StartsWith(raw, Literal("{")), Literal("Object")),
        (StartsWith(raw, Literal("[")), Literal("Array")),
        (In(raw, Seq(Literal("true"), Literal("false"))), Literal("Bool")),
        (RLike(raw, Literal("^-?[0-9]+$")), Literal("Int64")),
        (RLike(raw, Literal("^-?[0-9.eE+-]+$")), Literal("Double"))),
        Some(Literal("String")))
    }),
    // -- scalar functions the migrated corpus SQL emits verbatim
    // (/root/reference/src/corpus/orm_none.txt:463: `if(empty(category),
    // 'Uncategorized', category)`). `empty` treats NULL as empty: a
    // Postgres NULL lands as '' in ClickHouse's non-Nullable String
    // columns, so migrated predicates expect the two to coincide.
    "empty"    -> (es => Or(IsNull(es.head), EqualTo(Length(es.head), Literal(0)))),
    "notEmpty" -> (es => Not(Or(IsNull(es.head), EqualTo(Length(es.head), Literal(0))))),
    "ifNull"   -> (es => Coalesce(Seq(es(0), es(1)))),
    // C-semantics integral ops (ClickHouse modulo keeps the dividend's
    // sign; pmod is NOT the analog)
    "intDiv"   -> (es => new IntegralDivide(Cast(es(0), LongType), Cast(es(1), LongType))),
    "modulo"   -> (es => new Remainder(es(0), es(1))),
    // multiIf(c1, v1, c2, v2, …, else)
    "multiIf"  -> (es => {
      require(es.length >= 3 && es.length % 2 == 1,
        "multiIf takes cond/value pairs plus a final else")
      CaseWhen(es.init.grouped(2).map { case Seq(c, v) => (c, v) }.toSeq, Some(es.last))
    }),
    // -- parametric aggregates (flattened by ChSqlParser):
    //    quantile(0.5)(x) → quantile(0.5, x), etc.
    "quantile" -> (es => es match {
      case Seq(x)    => new Percentile(x, Literal(0.5))
      case Seq(p, x) => new Percentile(x, p)
      case _         => throw new IllegalArgumentException("quantile takes (level)(expr)")
    }),
    "quantileExact" -> (es => new Percentile(es(1), es(0))),
    "quantiles" -> (es => {
      require(es.length >= 2, "quantiles takes (l1, l2, …)(expr)")
      new Percentile(es.last, CreateArray(es.init))
    }),
    "quantilesExact" -> (es => {
      require(es.length >= 2, "quantilesExact takes (l1, l2, …)(expr)")
      new Percentile(es.last, CreateArray(es.init))
    }),
    "quantilesTDigest" -> (es => {
      require(es.length >= 2, "quantilesTDigest takes (l1, l2, …)(expr)")
      new ApproximatePercentile(es.last, CreateArray(es.init))
    }),
    // groupArrayInsertAt(default, size)(x, pos): values placed at
    // their positions (0-based), holes filled with `default`, first
    // value per position wins — made deterministic via min, the
    // anyLeft convention. Rides the position-keyed GraftMapAgg.
    "groupArrayInsertAt" -> (es => es match {
      case Seq(dflt, size, x, pos) =>
        val m = GraftMapAgg(CreateArray(Seq(Cast(pos, LongType))), CreateArray(Seq(x)), "min")
          .toAggregateExpression()
        def field(n: String) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(m, Literal(n))
        val i = lamVar("gr_ia_i")
        val p = ArrayPosition(field("keys"), i)
        ArrayTransform(new Sequence(Literal(0L), Subtract(Cast(size, LongType), Literal(1L)), None),
          LambdaFunction(If(GreaterThan(p, Literal(0L)),
            ElementAt(field("vals"), Cast(p, IntegerType), None, failOnError = false), dflt), Seq(i)))
      case _ => throw new IllegalArgumentException("groupArrayInsertAt takes (default, size)(expr, pos)")
    }),
    "median"   -> (es => new Percentile(es.head, Literal(0.5))),
    // median* family = the quantile* counterpart pinned at 0.5 (CH
    // defines them exactly so); exact/deterministic variants share the
    // exact Percentile kernel, the sketch variant the t-digest one.
    // Arity is validated — a mistyped medianExact(x, w) must error,
    // not silently drop the weight.
    "medianExact" -> (es => es match {
      case Seq(x) => new Percentile(x, Literal(0.5))
      case _ => throw new IllegalArgumentException("medianExact takes (expr)")
    }),
    "medianExactLow" -> (es => es match {
      case Seq(x) => exactRankQuantile(Seq(Literal(0.5), x), high = false)
      case _ => throw new IllegalArgumentException("medianExactLow takes (expr)")
    }),
    "medianExactHigh" -> (es => es match {
      case Seq(x) => exactRankQuantile(Seq(Literal(0.5), x), high = true)
      case _ => throw new IllegalArgumentException("medianExactHigh takes (expr)")
    }),
    // CH signature is (expr, determinator); the determinator only
    // steadies CH's reservoir sampling — the exact kernel needs none
    "medianDeterministic" -> (es => {
      if (es.isEmpty || es.length > 2) throw new IllegalArgumentException(
        "medianDeterministic takes (expr[, determinator])")
      new Percentile(es.head, Literal(0.5))
    }),
    // CH's medianTDigest always returns Float64 whatever the input.
    // The explicit toAggregateExpression matters: the analyzer only
    // auto-wraps a BARE AggregateFunction returned by a builder — one
    // nested under Cast stays unwrapped and fails analysis.
    "medianTDigest" -> (es => es match {
      case Seq(x) => Cast(new ApproximatePercentile(x, Literal(0.5)).toAggregateExpression(), DoubleType)
      case _ => throw new IllegalArgumentException("medianTDigest takes (expr)")
    }),
    "medianExactWeighted" -> (es => es match {
      case Seq(x, w) => GraftQuantileExactWeighted(Literal(0.5), x, w)
      case _ => throw new IllegalArgumentException("medianExactWeighted takes (expr, weight)")
    }),
    "topK" -> (es => es match {
      case Seq(x)    => GraftTopK(x, Literal(10))
      case Seq(k, x) => GraftTopK(x, k)
      case _         => throw new IllegalArgumentException("topK takes (k)(expr)")
    }),
    // -If combinator (the sketch skips NULLed-out rows)
    "topKIf" -> (es => es match {
      case Seq(k, x, cond) => GraftTopK(nullIfNot(cond, x), k)
      case _ => throw new IllegalArgumentException("topKIf takes (k)(expr, cond)")
    }),
    "topKWeighted" -> (es => es match {
      case Seq(k, x, w) => GraftTopKWeighted(k, x, w)
      case _            => throw new IllegalArgumentException("topKWeighted takes (k)(expr, weight)")
    }),
    "quantileExactWeighted" -> (es => es match {
      case Seq(q, x, w) => GraftQuantileExactWeighted(q, x, w)
      case _            => throw new IllegalArgumentException("quantileExactWeighted takes (level)(expr, weight)")
    }),
    // t-digest-weighted spelling lands on the EXACT weighted kernel —
    // strictly more accurate than the sketch it names, same contract
    "quantileTDigestWeighted" -> (es => es match {
      case Seq(q, x, w) => GraftQuantileExactWeighted(q, x, w)
      case _ => throw new IllegalArgumentException("quantileTDigestWeighted takes (level)(expr, weight)")
    }),
    // groupArray(x) unbounded; groupArray(N)(x) (parametric, flattened
    // to (N, x)) keeps the N SMALLEST values after sorting — CH keeps
    // the first N in arrival order, which is nondeterministic under
    // parallelism; the sorted variant is the engine's deterministic
    // (hence oracle-able) reading, same convention as q24
    // groupArrayLast(n)(x): CH keeps the block-order LAST n — the
    // deterministic reading here is the LARGEST n values, returned
    // ascending (mirror of bounded groupArray's smallest-n)
    "groupArrayLast" -> (es => es match {
      case Seq(n, x) => SortArray(Slice(SortArray(CollectList(x).toAggregateExpression(),
        Literal(false)), Literal(1), Cast(n, IntegerType)), Literal(true))
      case _ => throw new IllegalArgumentException("groupArrayLast takes (n)(expr)")
    }),
    // groupArraySample(n[, seed])(x): seeded deterministic sample —
    // the first n of the xxhash-keyed permutation of the SORTED
    // group (sorting first makes the draw partition-independent)
    "groupArraySample" -> (es => es match {
      case Seq(n, x) => Slice(arrayShuffle(SortArray(CollectList(x).toAggregateExpression(),
        Literal(true)), Literal(0)), Literal(1), Cast(n, IntegerType))
      case Seq(n, seed, x) => Slice(arrayShuffle(SortArray(CollectList(x).toAggregateExpression(),
        Literal(true)), seed), Literal(1), Cast(n, IntegerType))
      case _ => throw new IllegalArgumentException("groupArraySample takes (n[, seed])(expr)")
    }),
    // Excel PERCENTILE.INC — exactly the interpolated exact quantile
    "quantileExactInclusive" -> (es => new Percentile(es(1), es(0))),
    // Excel PERCENTILE.EXC: h = p(n+1) against the sorted values,
    // clamped to the ends — expression algebra over one sorted
    // collect (identical sub-aggregates dedup in the planner)
    "quantileExactExclusive"  -> (es => percentileExc(es(0), es(1))),
    "quantilesExactExclusive" -> (es => {
      require(es.length >= 2, "quantilesExactExclusive takes (l1, l2, …)(expr)")
      CreateArray(es.init.map(p => percentileExc(p, es.last)))
    }),
    "quantilesExactInclusive" -> (es => {
      require(es.length >= 2, "quantilesExactInclusive takes (l1, l2, …)(expr)")
      new Percentile(es.last, CreateArray(es.init))
    }),
    // groupArray's -Array combinator: concatenate the group's arrays
    // (same insertion-order caveat as groupArray — callers sort)
    "groupArrayArray" -> (es =>
      Flatten(CollectList(es.head).toAggregateExpression())),
    "groupArray" -> (es =>
      if (es.length == 1) CollectList(es.head)
      else {
        val n = es.head match {
          case Literal(i: Int, _)  => i
          case Literal(l: Long, _) => l.toInt
          case other => throw new IllegalArgumentException(
            s"groupArray(N)(x) needs an integer literal N, got $other")
        }
        Slice(new SortArray(CollectList(es(1)).toAggregateExpression()),
          Literal(1), Literal(n))
      }),
    // groupConcat([sep])(x): sorted join of the group's values (CH
    // leaves insertion order undefined; sorting is the groupArray
    // determinism convention)
    "groupConcat" -> (es => {
      val (sep, x) = es match {
        case Seq(x0)    => (Literal(""), x0)
        case Seq(s, x0) => (s, x0)
        case _ => throw new IllegalArgumentException("groupConcat takes ([separator])(expr)")
      }
      ArrayJoin(SortArray(CollectList(Cast(x, org.apache.spark.sql.types.StringType))
        .toAggregateExpression(), Literal(true)), sep, None)
    }),
    // exact nearest-rank quantile variants over the sorted group
    // array: Low takes floor((n−1)·q), High takes ceil — CH's two
    // discrete selectors (Percentile interpolates, these never do)
    "quantileExactLow"  -> (es => exactRankQuantile(es, high = false)),
    "quantileExactHigh" -> (es => exactRankQuantile(es, high = true)),
    // groupArraySorted(n)(x): the first n values in ascending order.
    // The bounded form is a size-capped heap aggregate (round 17):
    // O(n) buffer per group, partial-combines map-side — not a
    // collect-the-group-then-slice. The unbounded form is the whole
    // sorted group by definition, so collect_list stays.
    "groupArraySorted" -> (es => es match {
      case Seq(n, x) => GraftGroupArraySorted(x, n)
      case Seq(x)    => SortArray(CollectList(x).toAggregateExpression(), Literal(true))
      case _         => throw new IllegalArgumentException("groupArraySorted takes (n)(expr)")
    }),
    // numerically-stable spellings: Spark's moment aggregates already
    // use Welford-style streaming updates, so the *Stable names bind
    // to the same expressions
    "varPopStable"    -> (es => VariancePop(Cast(es.head, DoubleType))),
    "varSampStable"   -> (es => VarianceSamp(Cast(es.head, DoubleType))),
    "stddevPopStable" -> (es => StddevPop(Cast(es.head, DoubleType))),
    "stddevSampStable" -> (es => StddevSamp(Cast(es.head, DoubleType))),
    "covarPopStable"  -> (es => CovPopulation(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    "covarSampStable" -> (es => CovSample(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    "corrStable"      -> (es => Corr(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    // CH sums wrap on overflow for fixed-width ints; Long arithmetic
    // here wraps the same way, so the spelling is the plain Sum
    "sumWithOverflow" -> (es => Sum(es.head)),
    // groupArrayMovingSum/Avg(n)(x): per-position moving window over
    // the group's SORTED value array (ClickHouse leaves insertion
    // order undefined in distributed tables; sorting makes the result
    // deterministic and oracle-able, the same choice groupArray makes
    // here). Without n the window is the whole prefix (CH default).
    "groupArrayMovingSum" -> (es => movingAgg(es, isAvg = false)),
    "groupArrayMovingAvg" -> (es => movingAgg(es, isAvg = true)),
    "groupUniqArray" -> (es => SortArray(CollectSet(es.head).toAggregateExpression(), Literal(true))),
    "uniqExact" -> (es => Count(es).toAggregateExpression(isDistinct = true)),
    // uniqCombined([K])(x): K = log2 of the counter array (CH's
    // HLL-precision knob) → the equivalent relative standard
    // deviation 1.04/√2^K for the native HLL++ sketch
    "uniqCombined" -> (es => es match {
      case Seq(x) => HyperLogLogPlusPlus(x)
      case Seq(Literal(k: Int, IntegerType), x) =>
        HyperLogLogPlusPlus(x, relativeSD = 1.04d / math.sqrt(math.pow(2.0, k.toDouble)))
      case _ => throw new IllegalArgumentException("uniqCombined takes ([K])(expr)")
    }),
    "anyLast" -> (es => Last(es.head, ignoreNulls = true)),
    "avgWeighted" -> (es =>
      Divide(Sum(Multiply(es(0), es(1))).toAggregateExpression(),
             Sum(es(1)).toAggregateExpression())),
    // -- type conversions (toXxx family; Cast has ClickHouse's
    // accurateCast semantics under ANSI mode, which the engine runs)
    "toFloat64"  -> (es => Cast(es.head, org.apache.spark.sql.types.DoubleType)),
    "toFloat32"  -> (es => Cast(es.head, org.apache.spark.sql.types.FloatType)),
    "toInt64"    -> (es => Cast(es.head, LongType)),
    "toInt32"    -> (es => Cast(es.head, org.apache.spark.sql.types.IntegerType)),
    "toInt16"    -> (es => Cast(es.head, org.apache.spark.sql.types.ShortType)),
    "toInt8"     -> (es => Cast(es.head, org.apache.spark.sql.types.ByteType)),
    // unsigned widths widen one step, the CAST-name convention
    "toUInt8"    -> (es => Cast(es.head, org.apache.spark.sql.types.ShortType)),
    "toUInt16"   -> (es => Cast(es.head, org.apache.spark.sql.types.IntegerType)),
    "toUInt32"   -> (es => Cast(es.head, LongType)),
    "toUInt64"   -> (es => Cast(es.head, LongType)),
    // byte-reinterpret pair (little-endian, the CH convention) —
    // StaticInvoke kernels; the narrower reinterpretAsUInt* spellings
    // mask the same 64-bit read
    "reinterpretAsUInt64" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      Class.forName("graft.plans.ReinterpretKernels"), LongType, "stringToUInt64",
      Seq(es.head), returnNullable = false)),
    "reinterpretAsUInt32" -> (es => BitwiseAnd(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.ReinterpretKernels"), LongType, "stringToUInt64",
        Seq(es.head), returnNullable = false), Literal(0xFFFFFFFFL))),
    "reinterpretAsUInt16" -> (es => BitwiseAnd(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.ReinterpretKernels"), LongType, "stringToUInt64",
        Seq(es.head), returnNullable = false), Literal(0xFFFFL))),
    "reinterpretAsUInt8" -> (es => BitwiseAnd(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.ReinterpretKernels"), LongType, "stringToUInt64",
        Seq(es.head), returnNullable = false), Literal(0xFFL))),
    "reinterpretAsString" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      Class.forName("graft.plans.ReinterpretKernels"),
      org.apache.spark.sql.types.StringType, "uint64ToString",
      Seq(Cast(es.head, LongType)), returnNullable = false)),
    "toString"   -> (es => Cast(es.head, org.apache.spark.sql.types.StringType)),
    "toDateTime" -> (es => Cast(es.head, org.apache.spark.sql.types.TimestampType)),
    // -- OrNull/OrZero conversions: ClickHouse's forgiving parses are
    // exactly Spark's TRY cast (NULL on malformed input), with the
    // zero default coalesced on top. parseDateTimeBestEffort maps to
    // the timestamp cast (ISO-ish inputs; CH accepts more exotic
    // spellings — documented subset).
    "toInt64OrNull"   -> (es => tryCastTo(es.head, LongType)),
    "toInt32OrNull"   -> (es => tryCastTo(es.head, IntegerType)),
    "toFloat64OrNull" -> (es => tryCastTo(es.head, DoubleType)),
    "toBool" -> (es => Cast(es.head, org.apache.spark.sql.types.BooleanType)),
    // accurateCast: the strict (ANSI, throwing) cast; OrNull/OrDefault
    // are the forgiving forms. CH type names map via chScalarType.
    "accurateCast" -> (es =>
      Cast(es.head, chScalarType(litString(es(1), "accurateCast type")))),
    "accurateCastOrNull" -> (es =>
      tryCastTo(es.head, chScalarType(litString(es(1), "accurateCastOrNull type")))),
    "accurateCastOrDefault" -> (es => {
      val t = chScalarType(litString(es(1), "accurateCastOrDefault type"))
      // the implicit default is the CH type default — a typed literal
      // (Cast(0, DATE) would not even analyze)
      val dflt: Expression =
        if (es.length > 2) Cast(es(2), t)
        else t match {
          case org.apache.spark.sql.types.StringType => Literal("")
          case org.apache.spark.sql.types.BooleanType => Literal(false)
          case DateType => Literal.create(0, DateType)
          case TimestampType => MicrosToTimestamp(Literal(0L))
          case other => Cast(Literal(0), other)
        }
      orZeroOf(es.head, tryCastTo(es.head, t), dflt)
    }),
    "toDateOrNull"    -> (es => tryCastTo(es.head, DateType)),
    "toDateTimeOrNull" -> (es => tryCastTo(es.head, TimestampType)),
    // OrZero fills PARSE FAILURES with zero; a NULL INPUT stays NULL
    // (CH ordinary functions propagate NULL arguments — OrZero(NULL)
    // is NULL, not 0; only an unparseable non-NULL string is 0)
    "toInt64OrZero"   -> (es => orZeroOf(es.head, tryCastTo(es.head, LongType), Literal(0L))),
    "toInt32OrZero"   -> (es => orZeroOf(es.head, tryCastTo(es.head, IntegerType), Literal(0))),
    "toFloat64OrZero" -> (es => orZeroOf(es.head, tryCastTo(es.head, DoubleType), Literal(0.0d))),
    "parseDateTimeBestEffort"       -> (es => Cast(es.head, TimestampType)),
    "parseDateTimeBestEffortOrNull" -> (es => tryCastTo(es.head, TimestampType)),
    "parseDateTime32BestEffort"     -> (es => Cast(es.head, TimestampType)),
    // explicit-format parsing; same Java-pattern convention as
    // formatDateTime below (documented deviation from the %-syntax)
    "parseDateTime"             -> (es => new ParseToTimestamp(es(0), mysqlFmt(es(1)))),
    "parseDateTimeInJodaSyntax" -> (es => new ParseToTimestamp(es(0), es(1))),
    "dateTrunc" -> (es => TruncTimestamp(es(0), Cast(es(1), TimestampType))),
    // MySQL-mode week numbering: mode 0 (Sunday-start, week 0 before
    // the first Sunday — the CH default) and mode 3 (ISO). Other
    // modes refuse loudly rather than silently shifting weeks.
    "toWeek" -> (es => {
      val d = Cast(es.head, DateType)
      weekMode(es) match {
        case 0 => week0(d)
        case 3 => WeekOfYear(d)
        case m => throw new IllegalArgumentException(
          s"toWeek: mode $m not supported (0 and 3 are)")
      }
    }),
    "toYearWeek" -> (es => {
      val d = Cast(es.head, DateType)
      weekMode(es) match {
        case 0 =>
          // week 0 belongs to the PREVIOUS year's last week (MySQL
          // YEARWEEK); re-anchor at Dec 31 of the prior year
          val prev = DateSub(TruncDate(d, Literal("year")), Literal(1))
          If(EqualTo(week0(d), Literal(0)),
            Add(Multiply(Year(prev), Literal(100)), week0(prev)),
            Add(Multiply(Year(d), Literal(100)), week0(d)))
        case 3 =>
          val isoYear = Year(DateAdd(TruncDate(d, Literal("week")), Literal(3)))
          Add(Multiply(isoYear, Literal(100)), WeekOfYear(d))
        case m => throw new IllegalArgumentException(
          s"toYearWeek: mode $m not supported (0 and 3 are)")
      }
    }),
    // ISO week numbering; ISO year = the year of that week's Thursday
    // (Monday truncation + 3 days)
    "toISOWeek" -> (es => WeekOfYear(Cast(es.head, DateType))),
    "toISOYear" -> (es => Year(DateAdd(TruncDate(Cast(es.head, DateType), Literal("week")), Literal(3)))),
    // epoch-based bucket indexes (UTC session, SURVEY §5)
    "toRelativeDayNum"    -> (es => DateDiff(Cast(es.head, DateType), Literal.create(0, DateType))),
    "toRelativeHourNum"   -> (es => new IntegralDivide(Cast(Cast(es.head, TimestampType), LongType), Literal(3600L))),
    "toRelativeMinuteNum" -> (es => new IntegralDivide(Cast(Cast(es.head, TimestampType), LongType), Literal(60L))),
    "toRelativeSecondNum" -> (es => Cast(Cast(es.head, TimestampType), LongType)),
    // Monday-aligned week index since epoch (1970-01-01 was a
    // Thursday, so the containing week started daynum −3)
    "toRelativeWeekNum" -> (es => new IntegralDivide(
      Add(DateDiff(Cast(es.head, DateType), Literal.create(0, DateType)), Literal(3)), Literal(7L))),
    // CH's year-anchored month/quarter indexes: year*12+month,
    // year*4+quarter−1 — monotone bucket ids, not elapsed counts
    "toRelativeMonthNum" -> (es =>
      Add(Multiply(Year(Cast(es.head, DateType)), Literal(12)), Month(Cast(es.head, DateType)))),
    "toRelativeQuarterNum" -> (es =>
      Add(Multiply(Year(Cast(es.head, DateType)), Literal(4)),
        Subtract(Quarter(Cast(es.head, DateType)), Literal(1)))),
    "toRelativeYearNum" -> (es => Year(Cast(es.head, DateType))),
    "timeSlot"            -> (es => secondBucket(es.head, 1800L)),
    // timeSlots(start, duration[, size]): every size-second slot
    // boundary the [start, start+duration] range touches, as an array
    // of timestamps (the slot-expansion helper behind CH sessionization)
    "timeSlots" -> (es => {
      val size = if (es.length > 2) Cast(es(2), LongType) else Literal(1800L)
      val s0 = Cast(Cast(es(0), TimestampType), LongType)
      val s1 = Add(s0, Cast(es(1), LongType))
      val i = lamVar("gr_ts_i")
      ArrayTransform(
        new Sequence(new IntegralDivide(s0, size), new IntegralDivide(s1, size)),
        LambdaFunction(SecondsToTimestamp(Multiply(i, size)), Seq(i)))
    }),
    "toStartOfHalfHour"   -> (es => secondBucket(es.head, 1800L)),
    // Spark registers this as width_bucket; CH/camel spelling
    "widthBucket" -> (es => WidthBucket(Cast(es(0), DoubleType),
      Cast(es(1), DoubleType), Cast(es(2), DoubleType), Cast(es(3), LongType))),
    // -If on the distinct-count family
    "uniqIf"          -> (es => HyperLogLogPlusPlus(nullIfNot(es(1), es(0)))),
    "uniqExactIf"     -> (es => Count(Seq(nullIfNot(es(1), es(0)))).toAggregateExpression(isDistinct = true)),
    "countDistinctIf" -> (es => Count(Seq(nullIfNot(es(1), es(0)))).toAggregateExpression(isDistinct = true)),
    // -- date parts (CH numbering: toDayOfWeek is ISO Monday=1..Sunday=7)
    "toYear"       -> (es => Year(es.head)),
    "toQuarter"    -> (es => Quarter(es.head)),
    "toMonth"      -> (es => Month(es.head)),
    "toDayOfMonth" -> (es => DayOfMonth(es.head)),
    "toDayOfYear"  -> (es => DayOfYear(es.head)),
    "toDayOfWeek"  -> (es => Add(WeekDay(es.head), Literal(1))),
    "toHour"       -> (es => Hour(es.head)),
    "toMinute"     -> (es => Minute(es.head)),
    "toSecond"     -> (es => Second(es.head)),
    "toYYYYMMDD"   -> (es => DateFormatClass(es.head, Literal("yyyyMMdd"))),
    "toYYYYMMDDhhmmss" -> (es => DateFormatClass(es.head, Literal("yyyyMMddHHmmss"))),
    "today"        -> (_  => CurrentDate()),
    "yesterday"    -> (_  => DateAdd(CurrentDate(), Literal(-1))),
    // -- date arithmetic (add*/subtract* take (ts, n))
    "addYears"    -> (es => TimestampAdd("YEAR", es(1), es(0))),
    "addMonths"   -> (es => TimestampAdd("MONTH", es(1), es(0))),
    "addWeeks"    -> (es => TimestampAdd("WEEK", es(1), es(0))),
    "addDays"     -> (es => TimestampAdd("DAY", es(1), es(0))),
    "addHours"    -> (es => TimestampAdd("HOUR", es(1), es(0))),
    "addMinutes"  -> (es => TimestampAdd("MINUTE", es(1), es(0))),
    "addSeconds"  -> (es => TimestampAdd("SECOND", es(1), es(0))),
    "subtractDays"   -> (es => TimestampAdd("DAY", UnaryMinus(es(1)), es(0))),
    "subtractMonths" -> (es => TimestampAdd("MONTH", UnaryMinus(es(1)), es(0))),
    "subtractYears"   -> (es => TimestampAdd("YEAR", UnaryMinus(es(1)), es(0))),
    "subtractQuarters" -> (es => TimestampAdd("QUARTER", UnaryMinus(es(1)), es(0))),
    "subtractWeeks"   -> (es => TimestampAdd("WEEK", UnaryMinus(es(1)), es(0))),
    "subtractHours"   -> (es => TimestampAdd("HOUR", UnaryMinus(es(1)), es(0))),
    "subtractMinutes" -> (es => TimestampAdd("MINUTE", UnaryMinus(es(1)), es(0))),
    "subtractSeconds" -> (es => TimestampAdd("SECOND", UnaryMinus(es(1)), es(0))),
    "addQuarters"     -> (es => TimestampAdd("QUARTER", es(1), es(0))),
    // dateDiff('unit', start, end): ClickHouse counts UNIT BOUNDARY
    // crossings (dateDiff('day', 23:59, 00:01) = 1), not elapsed full
    // units — so each unit maps to a boundary-exact formulation, not
    // to timestampdiff. Spark's grammar owns the bare name `dateDiff`
    // (unquoted-unit timestampdiff alias), so [[ChSqlParser]] reroutes
    // the quoted-unit ClickHouse spelling to this registration.
    "graft_dateDiff" -> (es => {
      val (s, e) = (es(1), es(2))
      def toDate(x: Expression) = Cast(x, DateType)
      def monthIdx(x: Expression) = Add(Multiply(Year(x), Literal(12)), Month(x))
      // timestamp → long casts to epoch SECONDS in Spark
      def secIdx(x: Expression, unit: Long) =
        Cast(new IntegralDivide(Cast(Cast(x, org.apache.spark.sql.types.TimestampType), LongType),
          Literal(unit)), LongType)
      val unit = es.head match {
        case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString.toLowerCase
        case other => throw new IllegalArgumentException(s"dateDiff unit must be a literal, got $other")
      }
      unit match {
        case "day"     => Cast(DateDiff(toDate(e), toDate(s)), LongType)
        case "week"    => Cast(new IntegralDivide(
          Cast(DateDiff(TruncDate(toDate(e), Literal("week")), TruncDate(toDate(s), Literal("week"))), LongType),
          Literal(7L)), LongType)
        case "month"   => Cast(Subtract(monthIdx(e), monthIdx(s)), LongType)
        case "quarter" => Cast(new IntegralDivide(Cast(Subtract(monthIdx(e), monthIdx(s)), LongType), Literal(3L)), LongType)
        case "year"    => Cast(Subtract(Year(e), Year(s)), LongType)
        case "hour"    => Subtract(secIdx(e, 3600L), secIdx(s, 3600L))
        case "minute"  => Subtract(secIdx(e, 60L), secIdx(s, 60L))
        case "second"  => Subtract(secIdx(e, 1L), secIdx(s, 1L))
        case u => throw new IllegalArgumentException(s"dateDiff: unsupported unit '$u'")
      }
    }),
    // the non-Joda spellings take CH's MySQL %-codes (translated to
    // Spark patterns when the literal format contains '%'; a
    // %-free literal passes through as a Spark/Java pattern — the
    // pre-round-11 documented deviation, kept for compatibility)
    "formatDateTime" -> (es => DateFormatClass(es.head, mysqlFmt(es(1)))),
    "formatDateTimeInJodaSyntax" -> (es => DateFormatClass(es.head, es(1))),
    "fromUnixTimestampInJodaSyntax" -> (es =>
      DateFormatClass(SecondsToTimestamp(es.head), es(1))),
    // age('unit', s, e): COMPLETE units elapsed (dateDiff counts
    // boundary crossings — age('day', 23:59, 00:01) is 0 where
    // dateDiff says 1). Month-family units floor months_between
    // (day-of-month aware); time-family units floor the epoch delta.
    "age" -> (es => {
      val unit = litString(es.head, "age unit").toLowerCase
      val (s, e) = (es(1), es(2))
      def mb = new MonthsBetween(Cast(e, TimestampType), Cast(s, TimestampType), Literal(false))
      def secDelta = Subtract(Cast(Cast(e, TimestampType), LongType), Cast(Cast(s, TimestampType), LongType))
      def fullSecs(w: Long) = new IntegralDivide(secDelta, Literal(w))
      unit match {
        case "year"    => Cast(Floor(Divide(mb, Literal(12.0d))), LongType)
        case "quarter" => Cast(Floor(Divide(mb, Literal(3.0d))), LongType)
        case "month"   => Cast(Floor(mb), LongType)
        case "week"    => fullSecs(604800L)
        case "day"     => fullSecs(86400L)
        case "hour"    => fullSecs(3600L)
        case "minute"  => fullSecs(60L)
        case "second"  => fullSecs(1L)
        case u => throw new IllegalArgumentException(s"age: unsupported unit '$u'")
      }
    }),
    // -- strings (CH names; Spark length/lower/upper are already
    // code-point-correct, so the UTF8 variants map to the same exprs)
    "lengthUTF8" -> (es => Length(es.head)),
    "lowerUTF8"  -> (es => Lower(es.head)),
    "upperUTF8"  -> (es => Upper(es.head)),
    "position"   -> (es => new StringLocate(es(1), es(0))), // (haystack, needle) → 1-based, 0 absent
    "positionCaseInsensitive" -> (es => new StringLocate(Lower(es(1)), Lower(es(0)))),
    "replaceAll" -> (es => StringReplace(es(0), es(1), es(2))),
    "replaceRegexpAll" -> (es => RegExpReplace(es(0), es(1), es(2))),
    // first-match-only replacement (kernel: Matcher.replaceFirst, so
    // $1-group references in the replacement stay correct — same
    // replacement convention as replaceRegexpAll above)
    "replaceRegexpOne" -> (es =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.StrKernels"),
        org.apache.spark.sql.types.StringType, "replaceFirst",
        Seq(es(0), es(1), es(2)))),
    // empty array → single-element array. CH fills with the type's
    // default (0/''); Spark's analog of an untyped default is NULL,
    // so the filler element is null here — documented deviation
    // (wrap with coalesce for a concrete default).
    "emptyArrayToSingle" -> (es => {
      val e = es.head
      If(EqualTo(Size(e), Literal(0)),
        CreateArray(Seq(ElementAt(e, Literal(1), None, failOnError = false))), e)
    }),
    // scalar bit-op spellings
    "bitAnd" -> (es => BitwiseAnd(Cast(es(0), LongType), Cast(es(1), LongType))),
    "bitOr"  -> (es => BitwiseOr(Cast(es(0), LongType), Cast(es(1), LongType))),
    "bitXor" -> (es => BitwiseXor(Cast(es(0), LongType), Cast(es(1), LongType))),
    "bitNot" -> (es => BitwiseNot(Cast(es.head, LongType))),
    "splitByChar" -> (es => // (sep, s); \Q..\E-quote the separator for the regex engine
      StringSplit(es(1), Concat(Seq(Literal("\\Q"), es(0), Literal("\\E"))), Literal(-1))),
    // latin-letter runs; split drops the non-letter stretches and the
    // filter drops the boundary empties
    "alphaTokens" -> (es => {
      val x = lamVar("gr_at")
      ArrayFilter(StringSplit(es.head, Literal("[^a-zA-Z]+"), Literal(-1)),
        LambdaFunction(Not(EqualTo(Length(x), Literal(0))), Seq(x)))
    }),
    // literal scrubbing for query fingerprinting: quoted strings and
    // bare numbers become `?` (CH normalizes whitespace too — the
    // literal classes are what dedup/fingerprint pipelines key on)
    "normalizeQuery" -> (es => normalizeQueryExpr(es.head)),
    // our normalization never touches identifiers, so KeepNames is
    // the same transform; the hash is the engine-internal-remap
    // convention (xxHash64 of the normalized text)
    "normalizeQueryKeepNames" -> (es => normalizeQueryExpr(es.head)),
    "normalizedQueryHash" -> (es =>
      new XxHash64(Seq(normalizeQueryExpr(es.head)))),
    "normalizedQueryHashKeepNames" -> (es =>
      new XxHash64(Seq(normalizeQueryExpr(es.head)))),
    // NUL-padded fixed width; CH throws when the value is longer —
    // rpad's truncation is the forgiving analog (documented)
    "toFixedString" -> (es =>
      StringRPad(es(0), Cast(es(1), IntegerType), Literal("\u0000"))),
    "toStringCutToZero" -> (es =>
      GetArrayItem(StringSplit(es.head, Literal("\u0000"), Literal(2)), Literal(0),
        failOnError = false)),
    // digits of the integer part (sign excluded)
    "countDigits" -> (es =>
      Length(Cast(Abs(Cast(es.head, LongType)), org.apache.spark.sql.types.StringType))),
    "toDecimalString" -> (es => Cast(
      Cast(es.head, org.apache.spark.sql.types.DecimalType(38,
        litInt(es(1), "toDecimalString scale"))),
      org.apache.spark.sql.types.StringType)),
    // '1d 2h 3m' → seconds: number/unit pairs extracted in lockstep,
    // unit words remapped to their second weights, zip-folded
    "parseTimeDelta" -> (es => {
      val pat = "([0-9]*\\.?[0-9]+)\\s*([A-Za-z]+)"
      val nums  = RegExpExtractAll(es.head, Literal(pat), Literal(1))
      val units = RegExpExtractAll(es.head, Literal(pat), Literal(2))
      val names = CreateArray(Seq(
        "ns", "us", "ms", "s", "sec", "secs", "second", "seconds",
        "m", "min", "mins", "minute", "minutes",
        "h", "hr", "hrs", "hour", "hours",
        "d", "day", "days", "w", "week", "weeks").map(Literal(_)))
      val weights = CreateArray(Seq(
        1e-9, 1e-6, 1e-3, 1d, 1d, 1d, 1d, 1d,
        60d, 60d, 60d, 60d, 60d,
        3600d, 3600d, 3600d, 3600d, 3600d,
        86400d, 86400d, 86400d, 604800d, 604800d, 604800d).map(Literal(_)))
      val n = lamVar("gr_td_n")
      val u = lamVar("gr_td_u")
      sumFold(ZipWith(nums, units, LambdaFunction(
        Multiply(Cast(n, DoubleType),
          remap(Lower(u), names, weights, Literal(0.0d))), Seq(n, u))),
        LambdaFunction.identity)
    }),
    "leftPad"  -> (es => StringLPad(es(0), es(1), if (es.length > 2) es(2) else Literal(" "))),
    "rightPad" -> (es => StringRPad(es(0), es(1), if (es.length > 2) es(2) else Literal(" "))),
    // -- substring search family. countSubstrings counts
    // non-overlapping occurrences via the length delta (codegen'd
    // string ops, no regex); multiSearch* fold over the needle array.
    "countSubstrings" -> (es => countSubstringsExpr(es(0), es(1))),
    "multiSearchAny" -> (es => {
      val n = lamVar("gr_n")
      ArrayExists(es(1), LambdaFunction(GreaterThan(new StringLocate(n, es(0)), Literal(0)), Seq(n)))
    }),
    "multiSearchAllPositions" -> (es => {
      val n = lamVar("gr_n")
      ArrayTransform(es(1), LambdaFunction(new StringLocate(n, es(0)), Seq(n)))
    }),
    "multiSearchAllPositionsCaseInsensitive" -> (es => {
      val n = lamVar("gr_nci")
      ArrayTransform(es(1),
        LambdaFunction(new StringLocate(Lower(n), Lower(es(0))), Seq(n)))
    }),
    "multiSearchAnyCaseInsensitive" -> (es => {
      val n = lamVar("gr_n")
      ArrayExists(es(1), LambdaFunction(
        GreaterThan(new StringLocate(Lower(n), Lower(es(0))), Literal(0)), Seq(n)))
    }),
    // first-position/first-index over the needle array: leftmost
    // occurrence wins, ties broken by needle order (CH's contract);
    // 0 when nothing matches
    "multiSearchFirstPosition" -> (es => multiSearchFirstPositionExpr(es(0), es(1))),
    "multiSearchFirstIndex"    -> (es => multiSearchFirstIndexExpr(es(0), es(1))),
    "multiSearchFirstPositionCaseInsensitive" -> (es =>
      multiSearchFirstPositionExpr(Lower(es(0)), lowerAll(es(1)))),
    "multiSearchFirstIndexCaseInsensitive" -> (es =>
      multiSearchFirstIndexExpr(Lower(es(0)), lowerAll(es(1)))),
    // regex variants: each needle is a pattern; RLike compiles
    // per-row when the pattern isn't foldable, so array needles work
    "multiMatchAny" -> (es => {
      val p = lamVar("gr_p")
      ArrayExists(es(1), LambdaFunction(RLike(es(0), p), Seq(p)))
    }),
    "multiMatchAnyIndex" -> (es => {
      val p = lamVar("gr_p")
      Coalesce(Seq(
        Cast(ArrayPosition(
          ArrayTransform(es(1), LambdaFunction(RLike(es(0), p), Seq(p))),
          Literal(true)), LongType),
        Literal(0L)))
    }),
    // extractAll: group 1 when the literal pattern declares a
    // capturing group (ClickHouse's rule), whole match otherwise
    "extractAll" -> (es => {
      val idx = es(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _)
          if s.toString.replace("\\(", "").replace("(?:", "").contains("(") => 1
        case _ => 0
      }
      RegExpExtractAll(es(0), es(1), Literal(idx))
    }),
    "countMatches" -> (es => Cast(Size(RegExpExtractAll(es(0), es(1), Literal(0))), LongType)),
    "countMatchesCaseInsensitive" -> (es => Cast(Size(RegExpExtractAll(
      es(0), Concat(Seq(Literal("(?i)"), es(1))), Literal(0))), LongType)),
    // regexpExtract(h, pattern[, index]) — CH's MySQL-compat spelling,
    // group 1 by default
    "regexpExtract" -> (es =>
      RegExpExtract(es(0), es(1), if (es.length > 2) es(2) else Literal(1))),
    "match" -> (es => RLike(es(0), es(1))),
    // replaceOne: first occurrence only (position + overlay
    // arithmetic; Spark's replace/regexp_replace are replace-ALL)
    "replaceOne" -> (es => {
      val (s, pat, rep) = (es(0), es(1), es(2))
      val pos = new StringLocate(pat, s)
      If(GreaterThan(pos, Literal(0)),
        Concat(Seq(
          Substring(s, Literal(1), Subtract(pos, Literal(1))),
          rep,
          Substring(s, Add(pos, Length(pat)), Length(s)))),
        s)
    }),
    // extractGroups(s, 're'): every capture group of the FIRST match
    // as an array — the group count is read off the literal pattern
    "extractGroups" -> (es => {
      val pat = litString(es(1), "extractGroups pattern")
      val n = pat.replace("\\(", "").replace("(?:", "").count(_ == '(')
      require(n > 0, "extractGroups needs at least one capturing group")
      CreateArray((1 to n).map(i => RegExpExtract(es(0), es(1), Literal(i))))
    }),
    "countSubstringsCaseInsensitive" -> (es =>
      countSubstringsExpr(Lower(es(0)), Lower(es(1)))),
    // all-matches group extraction; group count read off the literal
    // pattern (extractGroups' rule). Horizontal: one array per group
    // across matches; vertical: one groups-array per match.
    "extractAllGroupsHorizontal" -> (es => {
      val n = literalGroupCount(es(1), "extractAllGroupsHorizontal")
      CreateArray((1 to n).map(i => RegExpExtractAll(es(0), es(1), Literal(i))))
    }),
    // CH's bare name is an alias of the horizontal form
    "extractAllGroups" -> (es => {
      val n = literalGroupCount(es(1), "extractAllGroups")
      CreateArray((1 to n).map(i => RegExpExtractAll(es(0), es(1), Literal(i))))
    }),
    "extractAllGroupsVertical" -> (es => {
      val n = literalGroupCount(es(1), "extractAllGroupsVertical")
      val cols = (1 to n).map(i => RegExpExtractAll(es(0), es(1), Literal(i)))
      val m = lamVar("gr_egv_i")
      ArrayTransform(new Sequence(Literal(1), Size(cols.head)),
        LambdaFunction(CreateArray(cols.map(c =>
          ElementAt(c, m, None, failOnError = false))), Seq(m)))
    }),
    "positionUTF8" -> (es => new StringLocate(es(1), es(0))),
    "positionCaseInsensitiveUTF8" -> (es => new StringLocate(Lower(es(1)), Lower(es(0)))),
    // throwIf(cond[, msg]): data-quality assertion — raises on true,
    // returns 0 otherwise (CH's contract)
    "throwIf" -> (es => {
      val msg = if (es.length > 1) es(1) else Literal("throwIf condition met")
      If(Coalesce(Seq(es.head, Literal(false))), Cast(RaiseError(msg), IntegerType), Literal(0))
    }),
    "positiveModulo" -> (es => Pmod(es(0), es(1))),
    // dateName('part', d): the named date component
    "dateName" -> (es => litString(es.head, "dateName part").toLowerCase match {
      case "year"    => Cast(Year(es(1)), org.apache.spark.sql.types.StringType)
      case "quarter" => Cast(Quarter(es(1)), org.apache.spark.sql.types.StringType)
      case "month"   => DateFormatClass(es(1), Literal("MMMM"))
      case "week"    => Cast(WeekOfYear(es(1)), org.apache.spark.sql.types.StringType)
      case "day"     => Cast(DayOfMonth(es(1)), org.apache.spark.sql.types.StringType)
      case "weekday" => DateFormatClass(es(1), Literal("EEEE"))
      case "hour"    => Cast(Hour(es(1)), org.apache.spark.sql.types.StringType)
      case "minute"  => Cast(Minute(es(1)), org.apache.spark.sql.types.StringType)
      case "second"  => Cast(Second(es(1)), org.apache.spark.sql.types.StringType)
      case p => throw new IllegalArgumentException(s"dateName: unsupported part '$p'")
    }),
    // ngramDistance: 4-gram multiset symmetric difference over the two
    // strings, normalized by total gram count — nested HOF folds;
    // short strings (<4 chars) contribute themselves as one gram
    "ngramDistance" -> (es => ngramDistanceExpr(es(0), es(1))),
    "ngramDistanceCaseInsensitive" -> (es => ngramDistanceExpr(Lower(es(0)), Lower(es(1)))),
    // ngramSearch: non-symmetric — matched needle grams over total
    // needle grams (how much of the needle appears in the haystack)
    "ngramSearch" -> (es => ngramSearchExpr(es(0), es(1))),
    "ngramSearchCaseInsensitive" -> (es => ngramSearchExpr(Lower(es(0)), Lower(es(1)))),
    "initcapUTF8" -> (es => new InitCap(es.head)),
    // -- arrays
    "has"               -> (es => ArrayContains(es(0), es(1))),
    "indexOf"           -> (es => ArrayPosition(es(0), es(1))),
    "arrayConcat"       -> (es => Concat(es)),
    // open-ended slice length = the array size (a safe over-estimate:
    // Slice clamps to the end; Int.MaxValue would OVERFLOW in Slice's
    // start+length arithmetic and silently return [])
    "arraySlice"        -> (es => Slice(es(0), es(1), if (es.length > 2) es(2) else Size(es(0)))),
    // lambda form sorts BY KEY f(x) (CH semantics); plain form is the
    // natural ascending sort
    "arraySort"         -> (es => es match {
      case Seq(l: LambdaFunction, arr) => sortByKey(arr, l, asc = true)
      case Seq(arr) => SortArray(arr, Literal(true))
      case _ => throw new IllegalArgumentException(
        "arraySort takes (arr) or (x -> key, arr)")
    }),
    "arrayReverse"      -> (es => Reverse(es.head)),
    "arrayDistinct"     -> (es => ArrayDistinct(es.head)),
    "arrayUniq"         -> (es => Size(ArrayDistinct(es.head))),
    "flatten"           -> (es => Flatten(es.head)),
    // dense first-appearance ranks: [10,20,10,30] → [1,2,1,3]
    // (array_distinct preserves first-appearance order)
    "arrayEnumerateDense" -> (es => {
      val x = lamVar("gr_aed")
      ArrayTransform(es.head, LambdaFunction(ArrayPosition(ArrayDistinct(es.head), x), Seq(x)))
    }),
    "arrayMin"          -> (es => ArrayMin(es.head)),
    "arrayMax"          -> (es => ArrayMax(es.head)),
    "arrayProduct"      -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      ArrayAggregate(es.head, Literal(1.0d),
        LambdaFunction(Multiply(acc, Cast(x, DoubleType)), Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // hasAll(a, b): every element of b occurs in a; hasAny: any does
    "hasAll"            -> (es => EqualTo(Size(ArrayExcept(es(1), es(0))), Literal(0))),
    "hasAny"            -> (es => ArraysOverlap(es(0), es(1))),
    // partial sort: CH promises the first n sorted, remainder
    // unspecified — the full sort is a conforming (and the only
    // deterministic, hence oracle-able) reading
    "arrayPartialSort"        -> (es => SortArray(es(1), Literal(true))),
    "arrayPartialReverseSort" -> (es => SortArray(es(1), Literal(false))),
    // seeded deterministic permutation: indexes ordered by
    // xxhash64(index, seed) (struct sort tie-breaks on the element,
    // so equal hashes still permute). CH's seedless spelling is
    // random; here it's seed 0 — same engine contract as the
    // content-addressed SAMPLE (determinism over irreproducibility).
    "arrayShuffle"      -> (es => arrayShuffle(es.head, if (es.length > 1) es(1) else Literal(0))),
    // deterministic subset: first k of the seeded permutation
    "arrayRandomSample" -> (es => Slice(arrayShuffle(es(0), Literal(0)), Literal(1), Cast(es(1), IntegerType))),
    // partial shuffle: CH only promises the first `limit` positions
    // are uniformly random and the tail order is unspecified — the
    // full keyed permutation satisfies both, so it shares the kernel
    "arrayPartialShuffle" -> (es =>
      arrayShuffle(es.head, if (es.length > 2) es(2) else Literal(0))),
    "arrayROCAUC"         -> (es => ArrayRocAuc(es(0), es(1))),
    "arrayNormalizedGini" -> (es => ArrayNormalizedGini(es(0), es(1))),
    // intersection of every array in the group — sorted, generic
    // elements, shrinking buffer; see [[GraftArrayIntersectAgg]]
    "groupArrayIntersect" -> (es => GraftArrayIntersectAgg(es.head).toAggregateExpression()),
    "arrayStringConcat" -> (es =>
      ArrayJoin(es.head, if (es.length > 1) es(1) else Literal(""), None)),
    // -- bitmap family. A bitmap here is a SORTED DISTINCT
    // array<bigint> — the Roaring container ClickHouse serializes is
    // a storage codec, not query semantics, so the set algebra maps
    // onto the codegen'd array expressions directly and every result
    // is canonical (sorted) and therefore oracle-able. Group-level
    // folds (groupBitmap*) are [[BitmapFoldAgg]], a set-fold
    // TypedImperativeAggregate with map-side partial merge.
    "bitmapBuild"       -> (es => SortArray(ArrayDistinct(Cast(es.head, org.apache.spark.sql.types.ArrayType(LongType))), Literal(true))),
    "bitmapToArray"     -> (es => es.head),
    "bitmapCardinality" -> (es => Cast(Size(es.head), LongType)),
    "bitmapAnd"         -> (es => SortArray(ArrayIntersect(es(0), es(1)), Literal(true))),
    "bitmapOr"          -> (es => SortArray(ArrayDistinct(Concat(Seq(es(0), es(1)))), Literal(true))),
    "bitmapXor"         -> (es => SortArray(Concat(Seq(ArrayExcept(es(0), es(1)), ArrayExcept(es(1), es(0)))), Literal(true))),
    "bitmapAndnot"      -> (es => SortArray(ArrayExcept(es(0), es(1)), Literal(true))),
    "bitmapAndCardinality"    -> (es => Cast(Size(ArrayIntersect(es(0), es(1))), LongType)),
    "bitmapOrCardinality"     -> (es => Cast(Size(ArrayDistinct(Concat(Seq(es(0), es(1))))), LongType)),
    "bitmapXorCardinality"    -> (es => Cast(Add(Size(ArrayExcept(es(0), es(1))), Size(ArrayExcept(es(1), es(0)))), LongType)),
    "bitmapAndnotCardinality" -> (es => Cast(Size(ArrayExcept(es(0), es(1))), LongType)),
    "bitmapContains"    -> (es => ArrayContains(es(0), Cast(es(1), LongType))),
    "bitmapHasAll"      -> (es => EqualTo(Size(ArrayExcept(es(1), es(0))), Literal(0))),
    "bitmapHasAny"      -> (es => ArraysOverlap(es(0), es(1))),
    "bitmapMin"         -> (es => ArrayMin(es.head)),
    "bitmapMax"         -> (es => ArrayMax(es.head)),
    // subset helpers: filters preserve sortedness, so no re-sort
    "bitmapSubsetInRange" -> (es => {
      val x = lamVar("gr_bm")
      ArrayFilter(es.head, LambdaFunction(
        And(GreaterThanOrEqual(x, Cast(es(1), LongType)), LessThan(x, Cast(es(2), LongType))), Seq(x)))
    }),
    "bitmapSubsetLimit" -> (es => {
      val x = lamVar("gr_bm")
      Slice(ArrayFilter(es.head,
        LambdaFunction(GreaterThanOrEqual(x, Cast(es(1), LongType)), Seq(x))), Literal(1), Cast(es(2), IntegerType))
    }),
    "subBitmap" -> (es =>
      Slice(es.head, Add(Cast(es(1), IntegerType), Literal(1)), Cast(es(2), IntegerType))),
    "groupBitmapState"    -> (es => BitmapFoldAgg(Cast(es.head, LongType), "or").toAggregateExpression()),
    "groupBitmapOrState"  -> (es => BitmapFoldAgg(es.head, "or").toAggregateExpression()),
    "groupBitmapAndState" -> (es => BitmapFoldAgg(es.head, "and").toAggregateExpression()),
    "groupBitmapXorState" -> (es => BitmapFoldAgg(es.head, "xor").toAggregateExpression()),
    "groupBitmapOr"       -> (es => Cast(Size(BitmapFoldAgg(es.head, "or").toAggregateExpression()), LongType)),
    "groupBitmapAnd"      -> (es => Cast(Size(BitmapFoldAgg(es.head, "and").toAggregateExpression()), LongType)),
    "groupBitmapXor"      -> (es => Cast(Size(BitmapFoldAgg(es.head, "xor").toAggregateExpression()), LongType)),
    // ClickHouse's arrayJoin is a row generator (one output row per
    // element) — exactly Spark's explode, which the registry accepts
    // in a SELECT list the same way ClickHouse does.
    "arrayJoin" -> (es => Explode(es.head)),
    // -- array higher-order functions. ClickHouse puts the lambda
    // FIRST (`arrayMap(x -> x * 2, arr)`); Spark's HOF expressions
    // take the collection first, so each registration swaps. The
    // lambda parses as a LambdaFunction and the analyzer's standard
    // HigherOrderFunction resolution binds its variables — same path
    // as the built-in `transform`/`filter`.
    "arrayMap"    -> (es => ArrayTransform(es(1), es.head)),
    "arrayFilter" -> (es => ArrayFilter(es(1), es.head)),
    "arrayExists" -> (es => ArrayExists(es(1), es.head)),
    "arrayAll"    -> (es => ArrayForAll(es(1), es.head)),
    // arrayCount/arrayFirst/arraySum/arrayAvg: the analyzer requires
    // the ROOT of a lambda-taking call to itself be a
    // HigherOrderFunction, so compositions like count = size∘filter
    // are expressed as a single ArrayAggregate fold (with the
    // division for avg in the fold's finish lambda) instead of a
    // non-HOF wrapper around ArrayFilter.
    "arrayCount" -> (es => {
      val l = es.head.asInstanceOf[LambdaFunction]
      val acc = lamVar("gr_acc")
      ArrayAggregate(es(1), Literal(0),
        LambdaFunction(Add(acc, If(l.function, Literal(1), Literal(0))), acc +: l.arguments),
        LambdaFunction.identity)
    }),
    // First element of filter(arr, pred): the whole value is computed
    // in the fold's ZERO (where a typed expression is allowed and the
    // lambda sits under the HOF ArrayFilter); the fold itself runs
    // over an empty slice, so the HOF root is a no-op veneer that
    // satisfies the analyzer. ClickHouse returns the type's default
    // value when nothing matches; null is the Spark-idiomatic analog.
    "arrayFirst" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      ArrayAggregate(
        Slice(es(1), Literal(1), Literal(0)),
        GetArrayItem(ArrayFilter(es(1), es.head), Literal(0), failOnError = false),
        LambdaFunction(acc, Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // arrayLast: same zero-slice veneer as arrayFirst, anchored at
    // the filtered array's tail
    "arrayLast" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      ArrayAggregate(
        Slice(es(1), Literal(1), Literal(0)),
        ElementAt(ArrayFilter(es(1), es.head), Literal(-1), None, failOnError = false),
        LambdaFunction(acc, Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // the OrNull spellings ARE the construction above — arrayFirst/
    // arrayLast already yield NULL when nothing matches (the
    // documented Spark-idiomatic analog of CH's type-default), so
    // CH's explicit-NULL names bind to the same trees
    "arrayFirstOrNull" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      ArrayAggregate(
        Slice(es(1), Literal(1), Literal(0)),
        GetArrayItem(ArrayFilter(es(1), es.head), Literal(0), failOnError = false),
        LambdaFunction(acc, Seq(acc, x)),
        LambdaFunction.identity)
    }),
    "arrayLastOrNull" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      ArrayAggregate(
        Slice(es(1), Literal(1), Literal(0)),
        ElementAt(ArrayFilter(es(1), es.head), Literal(-1), None, failOnError = false),
        LambdaFunction(acc, Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // first/last 1-based index where the predicate holds (0 when
    // none, CH's convention): the user lambda maps the array to
    // booleans, ArrayPosition finds the edge, and the whole value
    // rides in a zero-slice fold's ZERO so the analyzer sees a HOF
    // root (the arrayFirst pattern)
    "arrayFirstIndex" -> (es => hofVeneer(es(1),
      ArrayPosition(ArrayTransform(es(1), es.head), Literal(true)))),
    "arrayLastIndex" -> (es => {
      val revPos = ArrayPosition(Reverse(ArrayTransform(es(1), es.head)), Literal(true))
      hofVeneer(es(1),
        If(GreaterThan(revPos, Literal(0L)),
          Subtract(Cast(Size(es(1)), LongType), Subtract(revPos, Literal(1L))), Literal(0L)))
    }),
    "arrayUnion" -> (es => ArrayDistinct(Concat(es))),
    // in at least one argument but not in all of them
    "arraySymmetricDifference" -> (es =>
      ArrayExcept(ArrayDistinct(Concat(es)), es.reduce(ArrayIntersect(_, _)))),
    // arrayFill/arrayReverseFill: elements whose predicate fails take
    // the nearest preceding (resp. following) passing value. The user
    // lambda maps to a flag array under its own HOF root; the fill is
    // a pure struct-accumulator fold after that.
    "arrayFill" -> (es =>
      fillForward(es(1), hofFlags(es))),
    // hofVeneer: the analyzer wants the ROOT of a lambda-taking call
    // to be a HigherOrderFunction (the arrayFirstIndex precedent)
    "arrayReverseFill" -> (es => hofVeneer(es(1),
      Reverse(fillForward(Reverse(es(1)), Reverse(hofFlags(es)))))),
    // arraySplit cuts BEFORE each flagged element (the first element
    // never opens a cut); arrayReverseSplit cuts AFTER each flagged
    // element (a flagged last element opens none)
    "arraySplit" -> (es => {
      val arr = es(1)
      val flags = hofFlags(es)
      val n = Size(arr)
      val i = lamVar("gr_sp_i")
      val cuts = ArrayFilter(oneToN(n),
        LambdaFunction(And(GreaterThanOrEqual(i, Literal(2)),
          Cast(ElementAt(flags, i, None, failOnError = false),
            org.apache.spark.sql.types.BooleanType)), Seq(i)))
      hofVeneer(arr, sliceByCuts(arr, cuts))
    }),
    "arrayReverseSplit" -> (es => {
      val arr = es(1)
      val flags = hofFlags(es)
      val n = Size(arr)
      val i = lamVar("gr_rs_i")
      val cuts = ArrayTransform(
        ArrayFilter(oneToN(n),
          LambdaFunction(And(LessThan(i, n),
            Cast(ElementAt(flags, i, None, failOnError = false),
              org.apache.spark.sql.types.BooleanType)), Seq(i))),
        LambdaFunction(Add(i, Literal(1)), Seq(i)))
      hofVeneer(arr, sliceByCuts(arr, cuts))
    }),
    // contiguous-subsequence containment; an empty needle is always
    // contained (CH convention)
    "hasSubstr" -> (es => {
      val (a, b) = (es(0), es(1))
      val nb = Size(b)
      val m = Add(Subtract(Size(a), nb), Literal(1))
      val i = lamVar("gr_hs_i")
      If(LessThanOrEqual(nb, Literal(0)), Literal(true),
        ArrayExists(oneToN(m),
          LambdaFunction(EqualTo(Slice(a, i, nb), b), Seq(i))))
    }),
    // element_at that yields NULL on every out-of-range index —
    // including CH's never-valid index 0 (element_at would raise)
    "arrayElementOrNull" -> (es => {
      val idx = Cast(es(1), IntegerType)
      If(EqualTo(idx, Literal(0)), GetArrayItem(es(0), Literal(Int.MaxValue), failOnError = false),
        ElementAt(es(0), idx, None, failOnError = false))
    }),
    // arraySum/arrayAvg: 1-arg form over the array itself, 2-arg form
    // maps the lambda first. Sum via the fold expression (aggregate).
    "arraySum" -> (es =>
      sumFold(if (es.length == 1) es.head else ArrayTransform(es(1), es.head),
        LambdaFunction.identity)),
    "arrayAvg" -> (es => {
      val arr  = if (es.length == 1) es.head else ArrayTransform(es(1), es.head)
      // length taken from the ORIGINAL array so the finish lambda does
      // not duplicate the user's lambda subtree
      val n = Cast(Size(if (es.length == 1) es.head else es(1)), DoubleType)
      val s = lamVar("gr_s")
      sumFold(arr, LambdaFunction(Divide(s, n), Seq(s)))
    }),
    // -- Unicode normalization (pre-dedup/fingerprint cleanup) and
    // the split long tail
    "normalizeUTF8NFC"  -> (es => NormalizeUtf8(es.head, java.text.Normalizer.Form.NFC)),
    "normalizeUTF8NFD"  -> (es => NormalizeUtf8(es.head, java.text.Normalizer.Form.NFD)),
    "normalizeUTF8NFKC" -> (es => NormalizeUtf8(es.head, java.text.Normalizer.Form.NFKC)),
    "normalizeUTF8NFKD" -> (es => NormalizeUtf8(es.head, java.text.Normalizer.Form.NFKD)),
    "splitByWhitespace" -> (es => {
      val x = lamVar("gr_sw_x")
      ArrayFilter(StringSplit(es.head, Literal("\\s+"), Literal(-1)),
        LambdaFunction(GreaterThan(Length(x), Literal(0)), Seq(x)))
    }),
    "splitByRegexp" -> (es => StringSplit(es(1), es(0), Literal(-1))),
    // sumMapFiltered(keep)(keys, vals): sumMap restricted to the keys
    // in `keep` — pairs are filtered BEFORE aggregation state, so the
    // per-group map never holds dropped keys
    "sumMapFiltered" -> (es => {
      val (keep, keys, vals) = (es(0), es(1), es(2))
      val k = lamVar("gr_smf_k")
      val v = lamVar("gr_smf_v")
      val p = lamVar("gr_smf_p")
      def field(e: Expression, n: String) =
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal(n))
      val pairs = ArrayFilter(
        ZipWith(keys, vals, LambdaFunction(CreateNamedStruct(Seq(Literal("k"), k, Literal("v"), v)), Seq(k, v))),
        LambdaFunction(ArrayContains(keep, field(p, "k")), Seq(p)))
      GraftMapAgg(
        ArrayTransform(pairs, LambdaFunction(field(p, "k"), Seq(p))),
        ArrayTransform(pairs, LambdaFunction(field(p, "v"), Seq(p))),
        "sum")
    }),
    // -WithOverflow keeps the input width in CH; Long accumulation
    // here, same alias convention as sumMap
    "sumMapFilteredWithOverflow" -> (es => {
      val (keep, keys, vals) = (es(0), es(1), es(2))
      val k = lamVar("gr_smo_k")
      val v = lamVar("gr_smo_v")
      val p = lamVar("gr_smo_p")
      def field(e: Expression, n: String) =
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal(n))
      val pairs = ArrayFilter(
        ZipWith(keys, vals, LambdaFunction(CreateNamedStruct(Seq(Literal("k"), k, Literal("v"), v)), Seq(k, v))),
        LambdaFunction(ArrayContains(keep, field(p, "k")), Seq(p)))
      GraftMapAgg(
        ArrayTransform(pairs, LambdaFunction(field(p, "k"), Seq(p))),
        ArrayTransform(pairs, LambdaFunction(field(p, "v"), Seq(p))),
        "sum")
    }),
    "sumMapWithOverflow" -> (es => mapAggOf(es, "sum")),
    // groupBitmap = distinct cardinality (CH's roaring-bitmap state
    // is an engine detail; the SQL contract is the exact count)
    "groupBitmap" -> (es => Count(es).toAggregateExpression(isDistinct = true)),
    // -- text tokenization (the search/data-pipeline helpers).
    // tokens splits on non-alphanumeric runs and drops empties;
    // ngrams emits the character n-gram windows ([] when the string
    // is shorter than n, CH's convention).
    "tokens" -> (es => {
      val x = lamVar("gr_tk_x")
      ArrayFilter(StringSplit(es.head, Literal("[^\\p{L}\\p{N}]+"), Literal(-1)),
        LambdaFunction(GreaterThan(Length(x), Literal(0)), Seq(x)))
    }),
    "ngrams" -> (es => {
      val (s, n) = (es(0), Cast(es(1), IntegerType))
      val i = lamVar("gr_ng_i")
      If(LessThan(Length(s), n),
        Literal.create(Array.empty[String], org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        ArrayTransform(new Sequence(Literal(1), Subtract(Length(s), Subtract(n, Literal(1))), None),
          LambdaFunction(Substring(s, i, n), Seq(i))))
    }),
    // generic Lp kernels (p ≥ 1, double): Σ|x|^p then the 1/p root
    "LpNorm" -> (es => {
      val p = Cast(es(1), DoubleType)
      val x = lamVar("gr_lp_x")
      Pow(sumFold(ArrayTransform(es.head,
        LambdaFunction(Pow(Abs(Cast(x, DoubleType)), p), Seq(x))), LambdaFunction.identity),
        Divide(Literal(1.0d), p))
    }),
    "LpDistance" -> (es => {
      val p = Cast(es(2), DoubleType)
      Pow(zipFold(es(0), es(1), (x, y) => Pow(Abs(Subtract(x, y)), p)),
        Divide(Literal(1.0d), p))
    }),
    // sketch-spelling aliases: uniqTheta/uniqHLL12/uniqCombined64 are
    // all bounded-state distinct sketches → the native HLL++;
    // quantileTiming/quantileDeterministic map to the EXACT percentile
    // (strictly more accurate than CH's bounded-state variants — the
    // spelling contract is the parametric call shape, which
    // ChSqlParser flattens the same way)
    "uniqTheta"      -> (es => HyperLogLogPlusPlus(es.head)),
    "uniqHLL12"      -> (es => HyperLogLogPlusPlus(es.head)),
    "uniqCombined64" -> (es => HyperLogLogPlusPlus(es.head)),
    "quantileTiming" -> (es => es match {
      case Seq(x)    => new Percentile(x, Literal(0.5))
      case Seq(p, x) => new Percentile(x, p)
      case _         => throw new IllegalArgumentException("quantileTiming takes (level)(expr)")
    }),
    // weighted/plural timing spellings land on the exact kernels the
    // unweighted one does (strictly more accurate than CH's
    // bounded-state timing sketch; same call-shape contract)
    "quantileTimingWeighted" -> (es => es match {
      case Seq(x, w)    => GraftQuantileExactWeighted(Literal(0.5), x, w)
      case Seq(p, x, w) => GraftQuantileExactWeighted(p, x, w)
      case _ => throw new IllegalArgumentException("quantileTimingWeighted takes (level)(expr, weight)")
    }),
    "quantilesTiming" -> (es => {
      require(es.length >= 2, "quantilesTiming takes (l1, l2, …)(expr)")
      new Percentile(es.last, CreateArray(es.init))
    }),
    "quantilesTimingWeighted" -> (es => {
      require(es.length >= 3, "quantilesTimingWeighted takes (l1, l2, …)(expr, weight)")
      val (x, w) = (es(es.length - 2), es.last)
      CreateArray(es.dropRight(2).map(p =>
        GraftQuantileExactWeighted(p, x, w).toAggregateExpression()))
    }),
    "quantileDeterministic" -> (es => es match {
      case Seq(p, x, _) => new Percentile(x, p)
      case Seq(x, _)    => new Percentile(x, Literal(0.5))
      case _ => throw new IllegalArgumentException("quantileDeterministic takes (level)(expr, determinator)")
    }),
    // Greenwald-Khanna: Spark's approx_percentile IS a GK-family
    // sketch — the accuracy parameter maps directly (CH spells
    // relative accuracy, Spark 1/accuracy; both bound rank error)
    "quantileGK" -> (es => es match {
      case Seq(acc, x)    => new ApproximatePercentile(x, Literal(0.5d), Cast(acc, IntegerType))
      case Seq(acc, p, x) => new ApproximatePercentile(x, p, Cast(acc, IntegerType))
      case _ => throw new IllegalArgumentException("quantileGK takes (accuracy[, level])(expr)")
    }),
    "quantilesGK" -> (es => {
      require(es.length >= 3, "quantilesGK takes (accuracy, l1[, l2, ...])(expr)")
      new ApproximatePercentile(es.last, CreateArray(es.tail.init), Cast(es.head, IntegerType))
    }),
    // weighted quantile with linear interpolation — percentile_cont
    // over the weight-expanded multiset; see
    // [[GraftQuantileInterpolatedWeighted]]
    "quantileInterpolatedWeighted" -> (es => es match {
      case Seq(p, x, w) => GraftQuantileInterpolatedWeighted(p, Cast(x, DoubleType), w)
      case _ => throw new IllegalArgumentException("quantileInterpolatedWeighted takes (level)(expr, weight)")
    }),
    // exact interpolated quantile over bfloat16-truncated inputs —
    // the truncation is bit-exact ([[Bfloat16Truncate]]), so unlike
    // CH's histogram-bucketed original this is deterministic
    "quantileBFloat16" -> (es => es match {
      case Seq(x)    => new Percentile(Bfloat16Truncate(Cast(x, org.apache.spark.sql.types.FloatType)), Literal(0.5))
      case Seq(p, x) => new Percentile(Bfloat16Truncate(Cast(x, org.apache.spark.sql.types.FloatType)), p)
      case _ => throw new IllegalArgumentException("quantileBFloat16 takes (level)(expr)")
    }),
    "toBFloat16" -> (es => Bfloat16Truncate(Cast(es.head, org.apache.spark.sql.types.FloatType))),
    // chart/downsample aggregates (parametric: sparkbar(n)(x, y),
    // largestTriangleThreeBuckets(n)(x, y)) — deterministic over the
    // (x, y)-sorted stream; see [[GraftSparkbar]] / [[GraftLttb]]
    "sparkbar" -> (es => es match {
      case Seq(n, x, y) => GraftSparkbar(n, Cast(x, DoubleType), Cast(y, DoubleType))
      case _            => throw new IllegalArgumentException("sparkbar takes (buckets)(x, y)")
    }),
    // camelCase alias CH documents for the same aggregate
    "sparkBar" -> (es => es match {
      case Seq(n, x, y) => GraftSparkbar(n, Cast(x, DoubleType), Cast(y, DoubleType))
      case _            => throw new IllegalArgumentException("sparkBar takes (buckets)(x, y)")
    }),
    "largestTriangleThreeBuckets" -> (es => es match {
      case Seq(n, x, y) => GraftLttb(n, Cast(x, DoubleType), Cast(y, DoubleType))
      case _ => throw new IllegalArgumentException("largestTriangleThreeBuckets takes (n)(x, y)")
    }),
    // adaptive histogram (parametric: histogram(n)(x)) — see
    // [[GraftHistogram]]; merge-order dependent like the original,
    // hence rows-only in the registry
    "histogram" -> (es => es match {
      case Seq(n, x) => GraftHistogram(n, x)
      case _         => throw new IllegalArgumentException("histogram takes (bins)(expr)")
    }),
    // -- behavioral sequence aggregates (parametric spellings
    // windowFunnel(w[, 'mode'…])(ts, c…) / sequenceMatch('p')(ts, c…)
    // flattened by ChSqlParser, like quantile/topK). The per-group
    // event cap is captured from the session conf at plan time.
    "windowFunnel"  -> (es => {
      val modes = es.drop(1).iterator.map(funnelModeOf).takeWhile(_.isDefined).map(_.get).toSeq
      GraftWindowFunnel(es.head, modes, es(1 + modes.length), es.drop(2 + modes.length),
        SequenceAggBase.configuredCap())
    }),
    "sequenceMatch" -> (es => GraftSequenceMatch(es.head, es(1), es.drop(2),
      SequenceAggBase.configuredCap())),
    "sequenceCount" -> (es => GraftSequenceCount(es.head, es(1), es.drop(2),
      SequenceAggBase.configuredCap())),
    // the (?N)-step timestamps of the LEFTMOST pattern match — see
    // [[GraftSequenceMatchEvents]]
    "sequenceMatchEvents" -> (es => GraftSequenceMatchEvents(es.head, es(1), es.drop(2),
      SequenceAggBase.configuredCap())),
    // the value of the event AFTER a matched consecutive chain —
    // args (dir, base)(ts, event, base_cond, cond1, …); see
    // [[GraftSequenceNextNode]]
    "sequenceNextNode" -> (es => GraftSequenceNextNode(es(0), es(1), es(2),
      Cast(es(3), org.apache.spark.sql.types.StringType), es.drop(4),
      SequenceAggBase.configuredCap())),
    // element-wise map-combine over parallel (keys, values) arrays,
    // or over a Map-typed column directly (CH accepts both shapes)
    "sumMap" -> (es => mapAggOf(es, "sum")),
    "maxMap" -> (es => mapAggOf(es, "max")),
    "minMap" -> (es => mapAggOf(es, "min")),
    // the -MappedArrays spellings are the same aggregates under their
    // explicit (keys, values) array signature
    "sumMappedArrays" -> (es => mapAggOf(es, "sum")),
    "maxMappedArrays" -> (es => mapAggOf(es, "max")),
    "minMappedArrays" -> (es => mapAggOf(es, "min")),
    // avgMap = sumMap / per-key occurrence count, composed from two
    // map-agg buffers (both eval key-sorted, so the zip aligns);
    // result values are always double
    "avgMap" -> (es => {
      val (k, v) = es match {
        case Seq(m)    => (MapKeys(m), MapValues(m))
        case Seq(k, v) => (k, v)
        case _ => throw new IllegalArgumentException("avgMap takes (keys, values) or (map)")
      }
      val x = lamVar("gr_am_x")
      val ones = ArrayTransform(v, LambdaFunction(
        If(IsNull(x), Literal.create(null, LongType), Literal(1L)), Seq(x)))
      val sums = GraftMapAgg(k, v, "sum").toAggregateExpression()
      val counts = GraftMapAgg(k, ones, "sum").toAggregateExpression()
      def field(e: Expression, f: String) =
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal(f))
      val a = lamVar("gr_am_a")
      val b = lamVar("gr_am_b")
      CreateNamedStruct(Seq(
        Literal("keys"), field(sums, "keys"),
        Literal("vals"), ZipWith(field(sums, "vals"), field(counts, "vals"),
          LambdaFunction(Divide(Cast(a, DoubleType), Cast(b, DoubleType)), Seq(a, b)))))
    }),
    // retention(c1, …, cN) → [c1 ever, c1 && c2 ever, …] as 0/1 ints
    // (CH returns UInt8). Pure composition of bool_or partials — no
    // custom state, full map-side combine.
    "retention" -> (es => {
      val flags = es.map(c => BoolOr(c).toAggregateExpression())
      CreateArray(flags.zipWithIndex.map { case (f, i) =>
        Cast(if (i == 0) f else And(flags.head, f), org.apache.spark.sql.types.IntegerType)
      })
    }),
    // -- statistical moments. varPop/covarPop map to the native
    // streaming-moment aggregates; skewPop/kurtPop (ClickHouse is
    // population-moment, NOT the bias-corrected sample statistic most
    // engines call skewness) are compositions over raw power sums —
    // one pass, full map-side combine, no custom state.
    "varPop"     -> (es => VariancePop(Cast(es.head, DoubleType))),
    "varSamp"    -> (es => VarianceSamp(Cast(es.head, DoubleType))),
    "stddevPop"  -> (es => StddevPop(Cast(es.head, DoubleType))),
    "stddevSamp" -> (es => StddevSamp(Cast(es.head, DoubleType))),
    "covarPop"   -> (es => CovPopulation(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    "covarSamp"  -> (es => CovSample(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    // -- statistical aggregates with buffered state (see StatsAgg)
    "entropy"  -> (es => new GraftEntropy(es.head)),
    "rankCorr" -> (es => GraftRankCorr(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    "maxIntersections" -> (es =>
      GraftMaxIntersections(Cast(es(0), DoubleType), Cast(es(1), DoubleType), returnPosition = false)),
    "maxIntersectionsPosition" -> (es =>
      GraftMaxIntersections(Cast(es(0), DoubleType), Cast(es(1), DoubleType), returnPosition = true)),
    "intervalLengthSum" -> (es =>
      GraftIntervalLengthSum(Cast(es(0), DoubleType), Cast(es(1), DoubleType))),
    // categorical association coefficients over the joint (x, y)
    // contingency map — see GraftAssociation
    "cramersV"              -> (es => assoc(es, "cramersV")),
    "cramersVBiasCorrected" -> (es => assoc(es, "cramersVBiasCorrected")),
    "theilsU"               -> (es => assoc(es, "theilsU")),
    "contingency"           -> (es => assoc(es, "contingency")),
    // -- statistical compositions: pure aggregate algebra, so they
    // stay inside partial aggregation (identical sub-aggregates are
    // deduplicated by the physical planner)
    "simpleLinearRegression" -> (es => {
      val x = Cast(es(0), DoubleType)
      val y = Cast(es(1), DoubleType)
      val k = Divide(CovPopulation(x, y).toAggregateExpression(),
                     VariancePop(x).toAggregateExpression())
      CreateNamedStruct(Seq(
        Literal("k"), k,
        Literal("b"), Subtract(Average(y).toAggregateExpression(),
                               Multiply(k, Average(x).toAggregateExpression()))))
    }),
    // boundingRatio(x, y): slope between the leftmost and rightmost
    // points of the group — (y@max x − y@min x) / (max x − min x).
    // Ties on x are CH-undefined; ordering by the (x, y) pair makes
    // the winner deterministic (largest y at the right edge, smallest
    // at the left), which is what lets the oracle replay it.
    "boundingRatio" -> (es => {
      val x = Cast(es(0), DoubleType)
      val y = Cast(es(1), DoubleType)
      def pair = CreateStruct(Seq(x, y))
      Divide(Subtract(MaxBy(y, pair).toAggregateExpression(), MinBy(y, pair).toAggregateExpression()),
             Subtract(Max(x).toAggregateExpression(), Min(x).toAggregateExpression()))
    }),
    "sumCount" -> (es => CreateNamedStruct(Seq(
      Literal("sum"),   Sum(Cast(es.head, DoubleType)).toAggregateExpression(),
      Literal("count"), Count(Seq(es.head)).toAggregateExpression()))),
    // Spark's Sum over doubles already accumulates in double; the
    // Kahan spelling maps to the same native aggregate
    "sumKahan" -> (es => Sum(Cast(es.head, DoubleType))),
    // studentTTest/welchTTest(value, sample_index): ClickHouse's
    // two-sample t-tests, returning the (t_stat, p_value) tuple. The
    // statistic is aggregate algebra over the two samples (conditional
    // count/mean/variance); the p-value is [[StudentTPValue]] on top.
    "studentTTest" -> (es => tTest(es(0), es(1), welch = false)),
    "welchTTest"   -> (es => tTest(es(0), es(1), welch = true)),
    // meanZTest(pop_var_0, pop_var_1, conf)(value, index) — z statistic
    // with KNOWN population variances: (m0 − m1)/√(σ₀²/n0 + σ₁²/n1).
    // Statistic-only like the t family; the confidence level shapes
    // the CH tuple's interval bounds, which we don't emit.
    "meanZTest" -> (es => {
      val (v0, v1, value, index) = (es(0), es(1), es(3), es(4))
      val x = Cast(value, DoubleType)
      def sample(i: Int) = nullIfNot(EqualTo(Cast(index, IntegerType), Literal(i)), x)
      def n(i: Int) = Cast(Count(Seq(sample(i))).toAggregateExpression(), DoubleType)
      def m(i: Int) = Average(sample(i)).toAggregateExpression()
      Divide(Subtract(m(0), m(1)),
        Sqrt(Add(Divide(Cast(v0, DoubleType), n(0)), Divide(Cast(v1, DoubleType), n(1)))))
    }),
    // rank/ECDF two-sample tests (statistic-only, like the t family).
    // A leading alternative-literal param ('two-sided', …) from CH's
    // parametric spelling is accepted and ignored — the statistic
    // doesn't depend on it.
    "mannWhitneyUTest" -> (es => {
      val args = es.dropWhile(isStringLiteral)
      GraftMannWhitneyU(Cast(args(0), DoubleType), Cast(args(1), DoubleType))
    }),
    "kolmogorovSmirnovTest" -> (es => {
      val args = es.dropWhile(isStringLiteral)
      GraftKolmogorovSmirnov(Cast(args(0), DoubleType), Cast(args(1), DoubleType))
    }),
    // deltaSumTimestamp(value, ts): positive consecutive deltas in
    // explicit (ts, value) order — CH's own is block-order
    // nondeterministic (same story as deltaSum/q78). Timestamp/date
    // orderings go through epoch seconds (NTZ/DATE can't cast to
    // DOUBLE directly).
    "deltaSumTimestamp" -> (es => {
      val tsNum = es(1).dataType match {
        case TimestampType | org.apache.spark.sql.types.TimestampNTZType | DateType =>
          Cast(Cast(es(1), TimestampType), DoubleType)
        case _ => Cast(es(1), DoubleType)
      }
      GraftDeltaSumTimestamp(Cast(es(0), DoubleType), tsNum)
    }),
    // singleValueOrNull(x): the value when the group holds exactly one
    // distinct non-null x, else NULL — plain aggregate algebra
    "singleValueOrNull" -> (es => If(
      EqualTo(Count(es.head).toAggregateExpression(isDistinct = true), Literal(1L)),
      Min(es.head).toAggregateExpression(),
      Literal.create(null, es.head.dataType))),
    "skewPop"    -> (es => momentRatio(es.head, order = 3)),
    "kurtPop"    -> (es => momentRatio(es.head, order = 4)),
    "skewSamp"   -> (es => sampMomentRatio(es.head, order = 3)),
    "kurtSamp"   -> (es => sampMomentRatio(es.head, order = 4)),
    // one-way ANOVA F statistic (statistic-only like the t family);
    // buffer is O(#groups) — see [[GraftAnova]]
    "analysisOfVariance" -> (es =>
      GraftAnova(Cast(es(0), DoubleType), Cast(es(1), LongType)).toAggregateExpression()),
    // decayed folds to the group's latest time point; constant-size
    // rescaling buffer — see [[GraftExpDecay]]. Parametric spellings
    // (`exponentialMovingAverage(h)(v, t)`) arrive flattened.
    "exponentialMovingAverage" -> (es =>
      GraftExpDecay(Cast(es(1), DoubleType), Cast(es(2), DoubleType), es(0), "avg").toAggregateExpression()),
    "exponentialTimeDecayedSum" -> (es =>
      GraftExpDecay(Cast(es(1), DoubleType), Cast(es(2), DoubleType), es(0), "sum").toAggregateExpression()),
    "exponentialTimeDecayedAvg" -> (es =>
      GraftExpDecay(Cast(es(1), DoubleType), Cast(es(2), DoubleType), es(0), "eavg").toAggregateExpression()),
    "exponentialTimeDecayedMax" -> (es =>
      GraftExpDecay(Cast(es(1), DoubleType), Cast(es(2), DoubleType), es(0), "emax").toAggregateExpression()),
    // count variant takes only the time column: weight 1 per event
    "exponentialTimeDecayedCount" -> (es =>
      GraftExpDecay(Literal(1.0d), Cast(es(1), DoubleType), es(0), "ecount").toAggregateExpression()),
    // standard-normal quantile (Acklam approximation, <1.2e-9 rel.)
    "normalQuantile" -> (es => NormalQuantileExpr(Cast(es.head, DoubleType))),
    // A/B-test sample-size planners (textbook two-sided forms; CH
    // returns a tuple with the group proportions, the size component
    // is what migrated planning queries consume).
    // conversion: n = ((z_{1-α/2}·√(2p̄q̄) + z_{power}·√(p₁q₁+p₂q₂))/mde)²
    // with p₂ = baseline + mde
    "minSampleSizeConversion" -> (es => {
      val Seq(p1, mde, power, alpha) = es.take(4).map(e => Cast(e, DoubleType))
      val p2   = Add(p1, mde)
      val pbar = Divide(Add(p1, p2), Literal(2.0d))
      val za   = NormalQuantileExpr(Subtract(Literal(1.0d), Divide(alpha, Literal(2.0d))))
      val zb   = NormalQuantileExpr(power)
      val lhs  = Multiply(za, Sqrt(Multiply(Literal(2.0d),
        Multiply(pbar, Subtract(Literal(1.0d), pbar)))))
      val rhs  = Multiply(zb, Sqrt(Add(
        Multiply(p1, Subtract(Literal(1.0d), p1)),
        Multiply(p2, Subtract(Literal(1.0d), p2)))))
      val root = Divide(Add(lhs, rhs), mde)
      Multiply(root, root)
    }),
    // continuous metric: n = 2σ²(z_{1-α/2} + z_{power})²/(mde·baseline)²
    // (CH's primary spelling carries the upstream typo "Continous";
    // both resolve to the same closed form)
    "minSampleSizeContinous" -> minSampleSizeContinuousFn,
    "minSampleSizeContinuous" -> minSampleSizeContinuousFn,
    // two-proportion z statistic from success/trial counts
    // (statistic-only like the t family; pooled variance, the CH
    // default 'unpooled' third spelling accepted and ignored — the
    // pooled form is the textbook default the oracle can replay)
    "proportionsZTest" -> (es => {
      val (s1, s2, t1, t2) =
        (Cast(es(0), DoubleType), Cast(es(1), DoubleType), Cast(es(2), DoubleType), Cast(es(3), DoubleType))
      val p1 = Divide(s1, t1)
      val p2 = Divide(s2, t2)
      val p  = Divide(Add(s1, s2), Add(t1, t2))
      Divide(Subtract(p1, p2),
        Sqrt(Multiply(Multiply(p, Subtract(Literal(1.0d), p)),
          Add(Divide(Literal(1.0d), t1), Divide(Literal(1.0d), t2)))))
    }),
    // -- bitwise aggregates (identical semantics in Spark)
    "groupBitAnd" -> (es => BitAndAgg(es.head)),
    "groupBitOr"  -> (es => BitOrAgg(es.head)),
    "groupBitXor" -> (es => BitXorAgg(es.head)),
    // -- URL family. Spark's ParseUrl is the same java.net.URI-based
    // decomposition ClickHouse implements natively; CH returns ''
    // (never NULL) for absent components, hence the Coalesce shims.
    "protocol"    -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("PROTOCOL"))))),
    "domain"      -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("HOST"))))),
    "path"        -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("PATH"))))),
    "pathFull"    -> (es => {
      val q = ParseUrl(Seq(es.head, Literal("QUERY")))
      Concat(Seq(coalesceEmpty(ParseUrl(Seq(es.head, Literal("PATH")))),
        If(IsNull(q), Literal(""), Concat(Seq(Literal("?"), q)))))
    }),
    "queryString" -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("QUERY"))))),
    "fragment"    -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("REF"))))),
    "extractURLParameter" -> (es =>
      coalesceEmpty(ParseUrl(Seq(es(0), Literal("QUERY"), es(1))))),
    "cutQueryString"      -> (es => RegExpReplace(es.head, Literal("\\?[^#]*"), Literal(""))),
    "topLevelDomain"      -> (es =>
      coalesceEmpty(RegExpExtract(ParseUrl(Seq(es.head, Literal("HOST"))), Literal("([^.]+)$"), Literal(1)))),
    // URL long tail: regex/array compositions (scheme-optional like
    // CH, unlike java.net.URI), all codegen-friendly
    "domainRFC"        -> (es => coalesceEmpty(ParseUrl(Seq(es.head, Literal("HOST"))))),
    "topLevelDomainRFC" -> (es =>
      coalesceEmpty(RegExpExtract(ParseUrl(Seq(es.head, Literal("HOST"))), Literal("([^.]+)$"), Literal(1)))),
    "domainWithoutWWW" -> (es =>
      RegExpReplace(urlHostExpr(es.head), Literal("^www\\."), Literal(""))),
    "netloc" -> (es => urlNetlocExpr(es.head)),
    "port" -> (es => {
      val p = RegExpExtract(urlNetlocExpr(es.head), Literal(":(\\d+)$"), Literal(1))
      val dflt: Expression =
        if (es.length >= 2) Cast(es(1), IntegerType) else Literal(0)
      If(EqualTo(Length(p), Literal(0)), dflt, Cast(p, IntegerType))
    }),
    "firstSignificantSubdomain" -> (es => {
      val (labels, n, sld) = hostLabels(urlHostExpr(es.head))
      If(And(GreaterThanOrEqual(n, Literal(3)), In(sld, significantSlds)),
        ElementAt(labels, Subtract(n, Literal(2)), None, failOnError = false),
        If(GreaterThanOrEqual(n, Literal(2)), sld, Literal("")))
    }),
    "cutToFirstSignificantSubdomain" -> (es => {
      val (labels, n, sld) = hostLabels(urlHostExpr(es.head))
      def lastK(k: Int) = ArrayJoin(
        Slice(labels, Subtract(n, Literal(k - 1)), Literal(k)), Literal("."), None)
      If(And(GreaterThanOrEqual(n, Literal(3)), In(sld, significantSlds)),
        lastK(3), If(GreaterThanOrEqual(n, Literal(2)), lastK(2), Literal("")))
    }),
    "cutWWW" -> (es => RegExpReplace(es.head,
      Literal("^((?:[A-Za-z][A-Za-z0-9+.-]*://)?)www\\."), Literal("$1"))),
    "cutFragment" -> (es =>
      RegExpReplace(es.head, Literal("(?s)#.*$"), Literal(""))),
    "cutQueryStringAndFragment" -> (es =>
      RegExpReplace(es.head, Literal("(?s)[?#].*$"), Literal(""))),
    "queryStringAndFragment" -> (es => {
      val q = RegExpExtract(es.head, Literal("\\?([^#]*)"), Literal(1))
      val f = RegExpExtract(es.head, Literal("(?s)#(.*)$"), Literal(1))
      If(Contains(es.head, Literal("#")), Concat(Seq(q, Literal("#"), f)), q)
    }),
    "extractURLParameters" -> (es => {
      val qs = RegExpExtract(es.head, Literal("\\?([^#]*)"), Literal(1))
      val p  = lamVar("gr_up_p")
      ArrayFilter(StringSplit(qs, Literal("&"), Literal(-1)),
        LambdaFunction(GreaterThan(Length(p), Literal(0)), Seq(p)))
    }),
    "extractURLParameterNames" -> (es => {
      val qs = RegExpExtract(es.head, Literal("\\?([^#]*)"), Literal(1))
      val p  = lamVar("gr_up_n")
      ArrayTransform(
        ArrayFilter(StringSplit(qs, Literal("&"), Literal(-1)),
          LambdaFunction(GreaterThan(Length(p), Literal(0)), Seq(p))),
        LambdaFunction(RegExpExtract(p, Literal("^([^=]*)"), Literal(1)), Seq(p)))
    }),
    "URLHierarchy"     -> (es => UrlHierarchy(es.head, pathOnly = false)),
    "URLPathHierarchy" -> (es => UrlHierarchy(es.head, pathOnly = true)),
    // -- IPv4 (CH stores IPv4 as UInt32; the long math is identical)
    "IPv4NumToString" -> (es => {
      val n = Cast(es.head, LongType)
      def octet(shift: Int) =
        Cast(BitwiseAnd(ShiftRight(n, Literal(shift)), Literal(255L)), org.apache.spark.sql.types.StringType)
      ConcatWs(Literal(".") +: Seq(octet(24), octet(16), octet(8), octet(0)))
    }),
    "IPv4StringToNum" -> (es => {
      val parts = StringSplit(es.head, Literal("\\."), Literal(-1))
      def octet(i: Int, mult: Long) =
        Multiply(Cast(GetArrayItem(parts, Literal(i)), LongType), Literal(mult))
      Add(Add(octet(0, 16777216L), octet(1, 65536L)), Add(octet(2, 256L), octet(3, 1L)))
    }),
    // shape + octet-range validation, pure codegen (regex gate, then
    // every dotted part ≤ 255)
    "isIPv4String" -> (es => {
      val x = lamVar("gr_ip4")
      And(RLike(es.head, Literal("^(\\d{1,3}\\.){3}\\d{1,3}$")),
        ArrayForAll(StringSplit(es.head, Literal("\\."), Literal(-1)),
          LambdaFunction(LessThanOrEqual(Cast(x, IntegerType), Literal(255)), Seq(x))))
    }),
    // shape check only (full RFC 4291 compression validation needs a
    // parser; the regex admits the hex-groups / :: compressed forms)
    "isIPv6String" -> (es =>
      RLike(es.head, Literal("^([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}$|^([0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4})*)?::([0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4})*)?$"))),
    // (lo, hi) bounds of a v4 CIDR block, as dotted strings — the
    // log-filtering staple; bits beyond the prefix zero/one out
    "ipv4CIDRToRange" -> (es => {
      val ip   = ipv4ToNum(es(0))
      val bits = Cast(es(1), IntegerType)
      val mask = BitwiseAnd(
        ShiftLeft(Literal(0xFFFFFFFFL), Subtract(Literal(32), bits)), Literal(0xFFFFFFFFL))
      CreateStruct(Seq(
        numToIpv4(BitwiseAnd(ip, mask)),
        numToIpv4(BitwiseOr(BitwiseAnd(ip, mask), BitwiseAnd(BitwiseNot(mask), Literal(0xFFFFFFFFL))))))
    }),
    "isIPAddressInRange" -> (es => {
      val cidr = StringSplit(es(1), Literal("/"), Literal(-1))
      val ip   = ipv4ToNum(es(0))
      val base = ipv4ToNum(GetArrayItem(cidr, Literal(0)))
      val bits = Cast(GetArrayItem(cidr, Literal(1)), IntegerType)
      val mask = BitwiseAnd(
        ShiftLeft(Literal(0xFFFFFFFFL), Subtract(Literal(32), bits)), Literal(0xFFFFFFFFL))
      EqualTo(BitwiseAnd(ip, mask), BitwiseAnd(base, mask))
    }),
    // -- IPv6 (CH stores IPv6 as FixedString(16); BinaryType here).
    // Parse/format are pure text↔byte kernels ([[IpKernels]], RFC
    // 4291/5952 — NOT java.net.InetAddress, which would DNS-resolve
    // hostname-shaped input), called via codegen'd StaticInvoke.
    "IPv6StringToNum" -> (es => ipInvoke(
      org.apache.spark.sql.types.BinaryType, "ipv6ToBytes", Seq(es.head))),
    "IPv6NumToString" -> (es => ipInvoke(
      org.apache.spark.sql.types.StringType, "bytesToIpv6",
      Seq(Cast(es.head, org.apache.spark.sql.types.BinaryType)))),
    "cutIPv6" -> (es => ipInvoke(
      org.apache.spark.sql.types.StringType, "cutIPv6",
      Seq(Cast(es(0), org.apache.spark.sql.types.BinaryType),
        Cast(es(1), IntegerType), Cast(es(2), IntegerType)))),
    "toIPv6" -> (es => ipInvoke(
      org.apache.spark.sql.types.BinaryType, "toIpv6Bytes", Seq(es.head))),
    "IPv4ToIPv6" -> (es => ipInvoke(
      org.apache.spark.sql.types.BinaryType, "ipv4ToIpv6Bytes",
      Seq(Cast(es.head, LongType)))),
    "toIPv4" -> (es => ipv4ToNum(es.head)),
    // Lamping–Veach jump hash — published algorithm, value parity
    "jumpConsistentHash" -> (es => ipInvoke(
      IntegerType, "jumpConsistentHash",
      Seq(Cast(es(0), LongType), Cast(es(1), IntegerType)), nullable = false)),
    // -- space-filling curves (Z-order + Hilbert; CH doc examples
    // mortonEncode(1,2,3)=53 / hilbertEncode(3,4)=31 spec-pinned).
    // mortonDecode/hilbertDecode return CH tuples (structs here,
    // .1/.2-addressable like tuple()).
    "mortonEncode" -> (es => {
      require(es.nonEmpty && es.length <= 8, "mortonEncode takes 1 to 8 arguments")
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.MathKernels"), LongType, "mortonEncode",
        Seq(CreateArray(es.map(e => Cast(e, LongType)))))
    }),
    "mortonDecode" -> (es => {
      val n = es.head match {
        case Literal(v, _) if v != null => v.toString.toInt
        case _ => throw new UnsupportedOperationException(
          "mortonDecode needs a literal tuple size as its first argument")
      }
      require(n >= 1 && n <= 8, "mortonDecode tuple size must be 1 to 8")
      def comp(i: Int) = org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.MathKernels"), LongType, "mortonComponent",
        Seq(Literal(n), Literal(i), Cast(es(1), LongType)))
      CreateStruct((0 until n).map(comp))
    }),
    "hilbertEncode" -> (es => es.length match {
      case 1 => Cast(es.head, LongType) // CH: the 1-D curve is the identity
      case 2 =>
        // CH's 32-level argument convention is the transpose of the
        // textbook x/y — (second, first) reproduces the doc example
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          Class.forName("graft.plans.MathKernels"), LongType, "hilbertXY2D",
          Seq(Cast(es(1), LongType), Cast(es(0), LongType)))
      case _ => throw new UnsupportedOperationException("hilbertEncode takes 1 or 2 arguments")
    }),
    "hilbertDecode" -> (es => {
      val n = es.head match {
        case Literal(v, _) if v != null => v.toString.toInt
        case _ => throw new UnsupportedOperationException(
          "hilbertDecode needs a literal tuple size as its first argument")
      }
      def comp(i: Int) = org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        Class.forName("graft.plans.MathKernels"), LongType, "hilbertD2XY",
        Seq(Literal(i), Cast(es(1), LongType)))
      n match {
        case 1 => CreateStruct(Seq(Cast(es(1), LongType)))
        case 2 => CreateStruct(Seq(comp(1), comp(0))) // transpose back: (y, x)
        case _ => throw new UnsupportedOperationException("hilbertDecode tuple size must be 1 or 2")
      }
    }),
    // -- unix-time conversions (the 64-suffixed family is CH's
    // DateTime64 sub-second story; micros are Spark's native
    // resolution, nanos round-trip through a ×1000)
    "toUnixTimestamp"   -> (es => Cast(Cast(es.head, org.apache.spark.sql.types.TimestampType), LongType)),
    "fromUnixTimestamp" -> (es => SecondsToTimestamp(es.head)),
    "fromUnixTimestamp64Milli" -> (es => MillisToTimestamp(es.head)),
    "fromUnixTimestamp64Micro" -> (es => MicrosToTimestamp(es.head)),
    "fromUnixTimestamp64Nano"  -> (es => MicrosToTimestamp(new IntegralDivide(Cast(es.head, LongType), Literal(1000L)))),
    "toUnixTimestamp64Milli" -> (es => UnixMillis(Cast(es.head, TimestampType))),
    "toUnixTimestamp64Micro" -> (es => UnixMicros(Cast(es.head, TimestampType))),
    "toUnixTimestamp64Nano"  -> (es => Multiply(UnixMicros(Cast(es.head, TimestampType)), Literal(1000L))),
    "toDateTime64"      -> (es => Cast(es.head, TimestampType)),
    "toStartOfSecond"   -> (es => secondBucket(es.head, 1L)),
    // arrayRotate: cyclic shift by n (mod size, negative = the other
    // direction); arrayShift: drop + pad with `fill` (or the element
    // type's NULL via the out-of-bounds ElementAt trick)
    "arrayRotateLeft"  -> (es => arrayRotate(es(0), Cast(es(1), IntegerType))),
    "arrayRotateRight" -> (es => arrayRotate(es(0), UnaryMinus(Cast(es(1), IntegerType)))),
    "arrayShiftLeft"   -> (es => arrayShift(es(0), Cast(es(1), IntegerType),
      if (es.length > 2) es(2) else nullOfElementType(es(0)), left = true)),
    "arrayShiftRight"  -> (es => arrayShift(es(0), Cast(es(1), IntegerType),
      if (es.length > 2) es(2) else nullOfElementType(es(0)), left = false)),
    // indexHint evaluates its argument only for index pruning and
    // always returns 1; Spark's pushdown already prunes, so the
    // result contract is all that remains
    "indexHint" -> (_ => Literal(1)),
    "byteSize"  -> (es => OctetLength(es.head)),
    // -- string long tail
    "splitByString" -> (es => // (sep, s) like splitByChar; literal-quoted
      StringSplit(es(1), Concat(Seq(Literal("\\Q"), es(0), Literal("\\E"))), Literal(-1))),
    "trimBoth"  -> (es => new StringTrim(es.head)),
    "trimLeft"  -> (es => new StringTrimLeft(es.head)),
    "trimRight" -> (es => new StringTrimRight(es.head)),
    "substringUTF8" -> (es =>
      Substring(es(0), es(1), if (es.length > 2) es(2) else Literal(Int.MaxValue))),
    "reverseUTF8" -> (es => Reverse(es.head)),
    // token-run splitters: letters are the token alphabet for
    // splitByNonAlpha, the separator alphabet for splitByAlpha
    "splitByNonAlpha" -> (es => splitByPattern(es.head, "[^\\p{L}]+")),
    "splitByAlpha"    -> (es => splitByPattern(es.head, "[\\p{L}]+")),
    // token search: the needle bounded by non-token characters (CH
    // tokens are [A-Za-z0-9_] runs); dynamic needles escape through
    // the regexpQuoteMeta composition
    "hasToken" -> (es => hasTokenExpr(es(0), es(1))),
    "hasTokenCaseInsensitive" -> (es => hasTokenExpr(Lower(es(0)), Lower(es(1)))),
    // subsequence test (characters in order, gaps allowed) — native
    // two-pointer kernel, SequenceScan; the UTF8 spellings share the
    // code-unit scan (same convention as the editDistance family)
    "hasSubsequence"     -> (es => HasSubsequence(es(0), es(1))),
    "hasSubsequenceUTF8" -> (es => HasSubsequence(es(0), es(1))),
    "hasSubsequenceCaseInsensitive"     -> (es => HasSubsequence(Lower(es(0)), Lower(es(1)))),
    "hasSubsequenceCaseInsensitiveUTF8" -> (es => HasSubsequence(Lower(es(0)), Lower(es(1)))),
    "hasTokenOrNull" -> (es =>
      If(RLike(es(1), Literal("^[A-Za-z0-9_]+$")), hasTokenExpr(es(0), es(1)),
        Literal.create(null, org.apache.spark.sql.types.BooleanType))),
    "substringIndexUTF8" -> (es =>
      SubstringIndex(es(0), es(1), Cast(es(2), IntegerType))),
    "countSubstringsCaseInsensitiveUTF8" -> (es =>
      countSubstringsExpr(Lower(es(0)), Lower(es(1)))),
    "translateUTF8" -> (es => StringTranslate(es(0), es(1), es(2))),
    "overlayUTF8" -> (es => new Overlay(es(0), es(1), Cast(es(2), IntegerType),
      if (es.length > 3) Cast(es(3), IntegerType) else Literal(-1))),
    "leftUTF8"  -> (es => Substring(es(0), Literal(1), Cast(es(1), IntegerType))),
    "rightUTF8" -> (es => {
      val n = Cast(es(1), IntegerType)
      If(LessThanOrEqual(n, Literal(0)), Literal(""),
        Substring(es(0), UnaryMinus(n), n))
    }),
    // escape every character ClickHouse's regexpQuoteMeta escapes, so
    // the result embeds safely in a pattern
    "regexpQuoteMeta" -> (es => RegExpReplace(es.head,
      Literal("([\\\\|()^$.\\[\\]?*+{:-])"), Literal("\\\\$1"))),
    "isZeroOrNull" -> (es =>
      Or(IsNull(es.head), EqualTo(es.head, Literal(0)))),
    // Spark's type name, not CH's — introspection helper, documented
    // deviation (the engine's types ARE Spark types here)
    "toTypeName" -> (es => TypeOf(es.head)),
    "toColumnTypeName" -> (es => TypeOf(es.head)),
    // the type's zero value, from the ARGUMENT's resolved type or a
    // CH type NAME (numerics 0, strings '', dates/times the epoch,
    // arrays [] — Nullable/other types NULL, as in ClickHouse)
    "defaultValueOfArgumentType" -> (es => defaultValueOf(es.head.dataType)),
    "defaultValueOfTypeName" -> (es => defaultValueOf(
      org.apache.spark.sql.types.DataType.fromDDL(
        ChSqlParser.chDdlTypeOf(litString(es.head, "defaultValueOfTypeName type"))))),
    // bin()'s byte-string inverse (CH semantics: '0011000000110001'
    // → '01'), not a numeric parse — kernel decodes bit-octets
    "unbin" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      Class.forName("graft.plans.StrKernels"),
      org.apache.spark.sql.types.StringType, "unbin", Seq(es.head))),
    "splitByNonAlphaUTF8" -> (es => splitByPattern(es.head, "[^\\p{L}]+")),
    "concatWithSeparator" -> (es => ConcatWs(es)),
    // -- math / bit long tail
    "bitCount"     -> (es => BitwiseCount(es.head)),
    "roundBankers" -> (es => BRound(es(0), if (es.length > 1) es(1) else Literal(0))),
    // numeric truncation toward zero at n decimals (Spark's `trunc`
    // is the DATE function, so only the full CH spelling registers)
    "truncate" -> (es => {
      val x = Cast(es.head, DoubleType)
      val p = if (es.length > 1) Pow(Literal(10.0d), Cast(es(1), DoubleType)) else Literal(1.0d)
      Divide(Multiply(Signum(x), Floor(Multiply(Abs(x), p))), p)
    }),
    "SHA256"       -> (es => Sha2(es.head, Literal(256))),
    "SHA224"       -> (es => Sha2(es.head, Literal(224))),
    "SHA384"       -> (es => Sha2(es.head, Literal(384))),
    "SHA512"       -> (es => Sha2(es.head, Literal(512))),
    // FIPS 180-4 truncated variant — JDK-native digest, hex like SHA256
    "SHA512_256"   -> (es => StringCodec(es.head, "sha512_256")),
    // URL-safe base64 (RFC 4648 §5): translate the two URL-unsafe
    // alphabet chars; padding kept, as in CH
    "toBase64URL"   -> (es => StringTranslate(
      Base64(Cast(es.head, org.apache.spark.sql.types.BinaryType)),
      Literal("+/"), Literal("-_"))),
    "fromBase64URL" -> (es => Cast(UnBase64(
      StringTranslate(es.head, Literal("-_"), Literal("+/"))),
      org.apache.spark.sql.types.StringType)),
    // AES via Spark's native kernels; CH spells the mode first
    // ('aes-128-ecb' — the key LENGTH must match the declared bits,
    // which Spark's kernel enforces) and the data second
    "encrypt" -> (es => chAes(es, decrypt = false, tryMode = false)),
    "decrypt" -> (es => chAes(es, decrypt = true, tryMode = false)),
    "tryDecrypt" -> (es => chAes(es, decrypt = true, tryMode = true)),
    "aes_encrypt_mysql" -> (es => chAes(es, decrypt = false, tryMode = false)),
    "aes_decrypt_mysql" -> (es => chAes(es, decrypt = true, tryMode = false)),
    // random-distribution family (nondeterministic by nature — kept
    // out of the oracled registry, provided for parity)
    "randCanonical" -> (_ => new Rand(Literal(scala.util.Random.nextLong()))),
    "runningConcurrency" -> (_ => throw new UnsupportedOperationException(
      "runningConcurrency is block-order dependent; count open intervals with a window: " +
        "sum(+1/-1 events) OVER (ORDER BY ts) after exploding (begin, end) to events")),
    // -- more arrays
    "arrayIntersect" -> (es => es.reduce(ArrayIntersect(_, _))),
    "arrayFlatten"   -> (es => Flatten(es.head)),
    "arrayZip" -> (es => ArraysZip(es)),
    // unaligned zip: pad the shorter arrays with NULL out to the
    // longest (Spark's arrays_zip is already CH-unaligned semantics —
    // registered under the CH spelling for migrated text)
    "arrayZipUnaligned" -> (es => ArraysZip(es)),
    "arrayJaccardIndex" -> (es =>
      Divide(Cast(Size(ArrayIntersect(es(0), es(1))), DoubleType),
             Cast(Size(ArrayUnion(es(0), es(1))), DoubleType))),
    // -- array long tail. arrayReduce applies a (literal) aggregate
    // name over an array's ELEMENTS per row — the supported names map
    // to the same folds the -Array combinators use; median is exact
    // nearest-rank over the sorted copy, argMax/argMin take (values,
    // by) array pairs with first-occurrence tie-break.
    "arrayReduce" -> (es => {
      val name = litString(es.head, "arrayReduce aggregate name")
      val a    = es(1)
      def notNull = {
        val x = lamVar("gr_rd_x")
        ArrayFilter(a, LambdaFunction(IsNotNull(x), Seq(x)))
      }
      name match {
        case "sum" => sumFold(a, LambdaFunction.identity)
        case "min" => ArrayMin(a)
        case "max" => ArrayMax(a)
        case "avg" => {
          val s = lamVar("gr_rd_s")
          sumFold(a, LambdaFunction(Divide(s, Cast(Size(a), DoubleType)), Seq(s)))
        }
        case "count" => {
          val acc = lamVar("gr_rd_acc")
          val x   = lamVar("gr_rd_x")
          ArrayAggregate(a, Literal(0L),
            LambdaFunction(Add(acc, If(IsNull(x), Literal(0L), Literal(1L))), Seq(acc, x)),
            LambdaFunction.identity)
        }
        case "uniq" | "uniqExact" => Size(ArrayDistinct(notNull))
        case "median" | "quantile" =>
          ElementAt(SortArray(a, Literal(true)),
            Cast(Ceil(Divide(Cast(Size(a), DoubleType), Literal(2.0d))), IntegerType),
            None, failOnError = false)
        case "any"     => ElementAt(a, Literal(1), None, failOnError = false)
        case "anyLast" => ElementAt(a, Literal(-1), None, failOnError = false)
        case "argMax" =>
          ElementAt(es(1), Cast(ArrayPosition(es(2), ArrayMax(es(2))), IntegerType), None, failOnError = false)
        case "argMin" =>
          ElementAt(es(1), Cast(ArrayPosition(es(2), ArrayMin(es(2))), IntegerType), None, failOnError = false)
        case other => throw new IllegalArgumentException(s"arrayReduce: unsupported aggregate '$other'")
      }
    }),
    // arrayFold((acc, x) -> …, arr, init): the user lambda binds
    // directly under ArrayAggregate (same (acc, x) order)
    "arrayFold" -> (es => ArrayAggregate(es(1), es.last,
      es.head.asInstanceOf[LambdaFunction], LambdaFunction.identity)),
    "countEqual" -> (es => {
      val acc = lamVar("gr_ce_acc")
      val x   = lamVar("gr_ce_x")
      ArrayAggregate(es(0), Literal(0L),
        LambdaFunction(Add(acc, If(EqualNullSafe(x, es(1)), Literal(1L), Literal(0L))), Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // arrayAUC(scores, labels): ROC AUC per row via average-tie ranks
    // — AUC = (Σ ranks of positives − P(P+1)/2) / (P·N), rank =
    // #less + (#equal + 1)/2 over ALL scores. O(n²) per row in the
    // pairwise count folds (fine for per-row arrays; the aggregate
    // path for corpus-level AUC is a sort + window, not this). NaN
    // when a class is absent, CH's convention.
    "arrayAUC" -> (es => {
      val (scores, labels) = (es(0), es(1))
      def cnt(cond: Expression => Expression): Expression = {
        val acc = lamVar("gr_auc_a")
        val x   = lamVar("gr_auc_x")
        ArrayAggregate(scores, Literal(0.0d),
          LambdaFunction(Add(acc, If(cond(Cast(x, DoubleType)), Literal(1.0d), Literal(0.0d))), Seq(acc, x)),
          LambdaFunction.identity)
      }
      val s = lamVar("gr_auc_s")
      val l = lamVar("gr_auc_l")
      def rank(v: Expression) = Add(
        cnt(x => LessThan(x, v)),
        Divide(Add(cnt(x => EqualTo(x, v)), Literal(1.0d)), Literal(2.0d)))
      val sumPosRanks = sumFold(
        ZipWith(scores, labels, LambdaFunction(
          If(EqualTo(Cast(l, DoubleType), Literal(1.0d)), rank(Cast(s, DoubleType)), Literal(0.0d)),
          Seq(s, l))),
        LambdaFunction.identity)
      val p = sumFold(labels, LambdaFunction.identity)
      val n = Subtract(Cast(Size(labels), DoubleType), p)
      safeRatio(Subtract(sumPosRanks, Divide(Multiply(p, Add(p, Literal(1.0d))), Literal(2.0d))),
        Multiply(p, n))
    }),
    // consecutive-duplicate collapse (the Run-Length heads)
    "arrayCompact" -> (es => {
      val a = es.head
      val i = lamVar("gr_ac_i")
      val s = lamVar("gr_ac_s")
      val keep = ArrayFilter(enumKeys(a), LambdaFunction(
        Or(EqualTo(i, Literal(1)),
           Not(EqualNullSafe(ElementAt(a, i, None, failOnError = false),
                             ElementAt(a, Subtract(i, Literal(1)), None, failOnError = false)))),
        Seq(i)))
      ArrayTransform(keep, LambdaFunction(ElementAt(a, s, None, failOnError = false), Seq(s)))
    }),
    // occurrence index of each element among its equals so far
    "arrayEnumerateUniq" -> (es => {
      val a = es.head
      val i = lamVar("gr_eu_i")
      val x = lamVar("gr_eu_x")
      ArrayTransform(enumKeys(a), LambdaFunction(
        Size(ArrayFilter(Slice(a, Literal(1), i),
          LambdaFunction(EqualNullSafe(x, ElementAt(a, i, None, failOnError = false)), Seq(x)))),
        Seq(i)))
    }),
    // resize with explicit fill, or a typed NULL when omitted (the
    // out-of-bounds ElementAt manufactures the element type's null)
    "arrayResize" -> (es => {
      val a = es(0)
      val n = Cast(es(1), IntegerType)
      val fill = if (es.length > 2) es(2)
                 else ElementAt(a, Add(Size(a), Literal(1)), None, failOnError = false)
      If(LessThanOrEqual(n, Size(a)),
        Slice(a, Literal(1), Greatest(Seq(n, Literal(0)))),
        Concat(Seq(a, ArrayRepeat(fill, Subtract(n, Size(a))))))
    }),
    "arrayPushBack"  -> (es => Concat(Seq(es(0), CreateArray(Seq(es(1)))))),
    "arrayPushFront" -> (es => Concat(Seq(CreateArray(Seq(es(1))), es(0)))),
    "arrayPopBack"   -> (es => Slice(es.head, Literal(1), Greatest(Seq(Subtract(Size(es.head), Literal(1)), Literal(0))))),
    "arrayPopFront"  -> (es => Slice(es.head, Literal(2), Size(es.head))),
    "arrayWithConstant" -> (es => ArrayRepeat(es(1), Cast(es(0), IntegerType))),
    "arrayReverseSort"  -> (es => es match {
      case Seq(l: LambdaFunction, arr) => sortByKey(arr, l, asc = false)
      case Seq(arr) => SortArray(arr, Literal(false))
      case _ => throw new IllegalArgumentException(
        "arrayReverseSort takes (arr) or (x -> key, arr)")
    }),
    // range(n) / range(s, e[, step]): end-EXCLUSIVE integer series
    // (Spark's sequence is inclusive, hence the -1; empty guarded —
    // Sequence would count down)
    "range" -> (es => {
      val (s0, e0, st) = es match {
        case Seq(n)         => (Literal(0L), Cast(n, LongType), Literal(1L))
        case Seq(s, e)      => (Cast(s, LongType), Cast(e, LongType), Literal(1L))
        case Seq(s, e, st0) => (Cast(s, LongType), Cast(e, LongType), Cast(st0, LongType))
        case _ => throw new IllegalArgumentException("range takes (end) or (start, end[, step])")
      }
      If(LessThanOrEqual(e0, s0),
        Literal.create(Array.empty[Long], org.apache.spark.sql.types.ArrayType(LongType)),
        new Sequence(s0, Subtract(e0, Literal(1L)), Some(st)))
    }),
    // -- tuples (CH tuple ≈ Spark struct; elements are 1-indexed and
    // land in CreateStruct's colN field names)
    "tuple" -> (es => CreateStruct(es)),
    "tupleElement" -> (es => es(1) match {
      case Literal(i: Int, _) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es(0), Literal(s"col$i"))
      case name @ Literal(_: org.apache.spark.unsafe.types.UTF8String, _) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es(0), name)
      case other => throw new IllegalArgumentException(
        s"tupleElement index must be a literal int or name, got $other")
    }),
    "assumeNotNull" -> (es =>
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(es.head)),
    // human-readable byte size: '1.00 KiB' — the CH formatting helper
    // dashboards lean on; pure CaseWhen over unit buckets
    "formatReadableSize" -> (es => {
      val x = Cast(es.head, DoubleType)
      val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB")
      val branches = units.zipWithIndex.init.map { case (u, i) =>
        val bound = Literal(math.pow(1024.0, i + 1.0))
        (LessThan(x, bound),
         Concat(Seq(FormatNumber(Divide(x, Literal(math.pow(1024.0, i.toDouble))), Literal(2)),
           Literal(" " + u))): Expression)
      }
      val last = Concat(Seq(
        FormatNumber(Divide(x, Literal(math.pow(1024.0, units.length - 1.0))), Literal(2)),
        Literal(" " + units.last)))
      CaseWhen(branches, Some(last))
    }),
    // decimal (SI) flavor: 1000-based units, B/KB/MB/…
    "formatReadableDecimalSize" -> (es => {
      val x = Cast(es.head, DoubleType)
      val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
      val branches = units.zipWithIndex.init.map { case (u, i) =>
        val bound = Literal(math.pow(1000.0, i + 1.0))
        (LessThan(x, bound),
         Concat(Seq(FormatNumber(Divide(x, Literal(math.pow(1000.0, i.toDouble))), Literal(2)),
           Literal(" " + u))): Expression)
      }
      val last = Concat(Seq(
        FormatNumber(Divide(x, Literal(math.pow(1000.0, units.length - 1.0))), Literal(2)),
        Literal(" " + units.last)))
      CaseWhen(branches, Some(last))
    }),
    // parseReadableSize('1.5 KiB') → bytes, ceil'd to integer (CH's
    // UInt64 contract). Binary and SI units both accepted. OrZero /
    // OrNull variants absorb malformed input; the strict one raises.
    "parseReadableSize"       -> (es => parseReadableSizeExpr(es.head, onBad = "raise")),
    "parseReadableSizeOrNull" -> (es => parseReadableSizeExpr(es.head, onBad = "null")),
    "parseReadableSizeOrZero" -> (es => parseReadableSizeExpr(es.head, onBad = "zero")),
    // human-readable decimal quantity: '1.25 million' (always 2
    // decimals, CH's format)
    "formatReadableQuantity" -> (es => {
      val x = Cast(es.head, DoubleType)
      def fmt(scale: Double, suffix: String) =
        Concat(Seq(FormatNumber(Divide(x, Literal(scale)), Literal(2)), Literal(suffix)))
      CaseWhen(Seq(
        (LessThan(x, Literal(1e3)),  FormatNumber(x, Literal(2)): Expression),
        (LessThan(x, Literal(1e6)),  fmt(1e3, " thousand"): Expression),
        (LessThan(x, Literal(1e9)),  fmt(1e6, " million"): Expression),
        (LessThan(x, Literal(1e12)), fmt(1e9, " billion"): Expression)),
        fmt(1e12, " trillion"))
    }),
    // formatReadableTimeDelta(sec): '2 days, 3 hours, 5 seconds' —
    // day/hour/minute/second decomposition, zero parts skipped,
    // pluralized, '0 seconds' for zero (CH's day-ceiling subset; its
    // optional year/month units need a calendar, not a delta)
    "formatReadableTimeDelta" -> (es => {
      val total = Cast(es.head, LongType)
      def unitPart(n: Expression, unit: String) =
        nullIfNot(GreaterThan(n, Literal(0L)),
          Concat(Seq(Cast(n, org.apache.spark.sql.types.StringType), Literal(" " + unit),
            If(EqualTo(n, Literal(1L)), Literal(""), Literal("s")))))
      val d = new IntegralDivide(total, Literal(86400L))
      val h = new IntegralDivide(Remainder(total, Literal(86400L)), Literal(3600L))
      val m = new IntegralDivide(Remainder(total, Literal(3600L)), Literal(60L))
      val s = Remainder(total, Literal(60L))
      val joined = ConcatWs(Seq(Literal(", "),
        unitPart(d, "day"), unitPart(h, "hour"), unitPart(m, "minute"), unitPart(s, "second")))
      If(EqualTo(total, Literal(0L)), Literal("0 seconds"), joined)
    }),
    // server-introspection constants (single-engine story: the Spark
    // session IS the server)
    "hostName"        -> (_ => Literal("localhost")),
    "hostname"        -> (_ => Literal("localhost")),
    "FQDN"            -> (_ => Literal("localhost")),
    "version"         -> (_ => Literal("graft 5 (spark 4.1)")),
    "currentDatabase" -> (_ => CurrentDatabase()),
    // one logical shard: Spark's parallelism is partitions, not shards
    "shardNum"   -> (_ => Literal(1)),
    "shardCount" -> (_ => Literal(1)),
    // fresh per plan-build, constant across the query's rows — the
    // randConstant convention
    "queryID"        -> (_ => Literal(java.util.UUID.randomUUID().toString)),
    "initialQueryID" -> (_ => Literal(java.util.UUID.randomUUID().toString)),
    // plan-time foldability IS the CH constancy question
    "isConstant" -> (es => Literal(es.head.foldable)),
    "visibleWidth" -> (es =>
      Length(Cast(es.head, org.apache.spark.sql.types.StringType))),
    "basename" -> (es =>
      RegExpExtract(es.head, Literal("([^/\\\\]*)$"), Literal(1))),
    "sleep" -> (_ => throw new UnsupportedOperationException(
      "sleep() is a timing side effect; benchmarks belong outside the query")),
    "sleepEachRow" -> (_ => throw new UnsupportedOperationException(
      "sleepEachRow() is a timing side effect; benchmarks belong outside the query")),
    // 48-bit MAC ↔ colon-hex text, pure bit math
    "MACNumToString" -> (es => {
      val n = Cast(es.head, LongType)
      def oct(sh: Int) = StringLPad(
        Lower(Hex(BitwiseAnd(ShiftRight(n, Literal(sh)), Literal(255L)))),
        Literal(2), Literal("0"))
      ConcatWs(Literal(":") +: Seq(oct(40), oct(32), oct(24), oct(16), oct(8), oct(0)))
    }),
    "MACStringToNum" -> (es =>
      Cast(Conv(RegExpReplace(es.head, Literal(":"), Literal("")),
        Literal(16), Literal(10), ansiEnabled = false), LongType)),
    "currentUser"     -> (_ => CurrentUser()),
    "toJSONString"    -> (es => StructsToJson(Map.empty[String, String], es.head)),
    // one-row text formatting for the name-free formats (CSV/TSV/
    // Values — composed string expressions, fully codegen'd);
    // JSONEachRow points at toJSONString, which can name fields
    "formatRow"          -> (es => formatRowExpr(es, newline = true)),
    "formatRowNoNewline" -> (es => formatRowExpr(es, newline = false)),
    "generateUUIDv4"  -> (_ => new Uuid()),
    // UUID text ↔ 16-byte binary, pure hex compositions
    "toUUID" -> (es => {
      val lo = Lower(es.head)
      If(RLike(lo, Literal("^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$")),
        lo, Literal.create(null, org.apache.spark.sql.types.StringType))
    }),
    "toUUIDOrNull" -> (es => {
      val lo = Lower(es.head)
      If(RLike(lo, Literal("^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$")),
        lo, Literal.create(null, org.apache.spark.sql.types.StringType))
    }),
    "toUUIDOrZero" -> (es => {
      val lo = Lower(es.head)
      val parsed = If(RLike(lo, Literal("^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$")),
        lo, Literal.create(null, org.apache.spark.sql.types.StringType))
      orZeroOf(es.head, parsed, Literal("00000000-0000-0000-0000-000000000000"))
    }),
    "UUIDStringToNum" -> (es =>
      Unhex(RegExpReplace(es.head, Literal("-"), Literal("")))),
    "UUIDNumToString" -> (es => {
      val h = Lower(Hex(Cast(es.head, org.apache.spark.sql.types.BinaryType)))
      ConcatWs(Literal("-") +: Seq(
        Substring(h, Literal(1), Literal(8)), Substring(h, Literal(9), Literal(4)),
        Substring(h, Literal(13), Literal(4)), Substring(h, Literal(17), Literal(4)),
        Substring(h, Literal(21), Literal(12))))
    }),
    // bar(x, min, max, width): full-block char chart. CH also renders
    // fractional eighth-blocks; this emits whole blocks only — the
    // subset that stays byte-identical across engines/oracles.
    "bar" -> (es => {
      val frac = Divide(Subtract(Cast(es(0), DoubleType), Cast(es(1), DoubleType)),
                        Subtract(Cast(es(2), DoubleType), Cast(es(1), DoubleType)))
      val w = if (es.length > 3) Cast(es(3), DoubleType) else Literal(80.0d)
      val n = Cast(Floor(Multiply(Greatest(Seq(Literal(0.0d), Least(Seq(frac, Literal(1.0d))))), w)), IntegerType)
      StringRepeat(Literal("█"), n)
    }),
    "base64Encode" -> (es => Base64(Cast(es.head, org.apache.spark.sql.types.BinaryType))),
    "base64Decode" -> (es => Cast(new UnBase64(es.head), org.apache.spark.sql.types.StringType)),
    // URL-safe base64 (unpadded, CH's flavor), base58 (Bitcoin
    // alphabet), raw punycode (RFC 3492) and whole-domain IDNA —
    // all on the [[StringCodec]] static-kernel expression
    "base64URLEncode"   -> (es => StringCodec(es.head, "base64UrlEncode")),
    "base64URLDecode"   -> (es => StringCodec(es.head, "base64UrlDecode")),
    "tryBase64URLDecode" -> (es => StringCodec(es.head, "tryBase64UrlDecode")),
    "base58Encode"      -> (es => StringCodec(es.head, "base58Encode")),
    "base32Encode"      -> (es => StringCodec(es.head, "base32Encode")),
    "base32Decode"      -> (es => StringCodec(es.head, "base32Decode")),
    "tryBase32Decode"   -> (es => StringCodec(es.head, "tryBase32Decode")),
    "base58Decode"      -> (es => StringCodec(es.head, "base58Decode")),
    "tryBase58Decode"   -> (es => StringCodec(es.head, "tryBase58Decode")),
    "punycodeEncode"    -> (es => StringCodec(es.head, "punycodeEncode")),
    "punycodeDecode"    -> (es => StringCodec(es.head, "punycodeDecode")),
    "tryPunycodeDecode" -> (es => StringCodec(es.head, "tryPunycodeDecode")),
    "idnaEncode"        -> (es => StringCodec(es.head, "idnaEncode")),
    "tryIdnaEncode"     -> (es => StringCodec(es.head, "tryIdnaEncode")),
    "idnaDecode"        -> (es => StringCodec(es.head, "idnaDecode")),
    "tryBase64Decode" -> (es => Cast(new UnBase64(es.head), org.apache.spark.sql.types.StringType)),
    // -- bit manipulation
    "bitTest" -> (es => Cast(BitwiseAnd(
      ShiftRight(Cast(es(0), LongType), Cast(es(1), IntegerType)), Literal(1L)), IntegerType)),
    "bitTestAll" -> (es => es.tail.map(b => EqualTo(BitwiseAnd(
      ShiftRight(Cast(es(0), LongType), Cast(b, IntegerType)), Literal(1L)), Literal(1L)): Expression)
      .reduce(And(_, _))),
    "bitTestAny" -> (es => es.tail.map(b => EqualTo(BitwiseAnd(
      ShiftRight(Cast(es(0), LongType), Cast(b, IntegerType)), Literal(1L)), Literal(1L)): Expression)
      .reduce(Or(_, _))),
    // set-bit decompositions over the 64-bit axis (pure array exprs)
    "bitmaskToArray" -> (es => {
      val x = Cast(es.head, LongType)
      val i = lamVar("gr_bm_i")
      val p = lamVar("gr_bm_p")
      ArrayFilter(
        ArrayTransform(new Sequence(Literal(0), Literal(62), Literal(1)),
          LambdaFunction(ShiftLeft(Literal(1L), i), Seq(i))),
        LambdaFunction(Not(EqualTo(BitwiseAnd(x, p), Literal(0L))), Seq(p)))
    }),
    "bitmaskToList" -> (es => {
      val x = Cast(es.head, LongType)
      val i = lamVar("gr_bl_i")
      val p = lamVar("gr_bl_p")
      ArrayJoin(ArrayFilter(
        ArrayTransform(new Sequence(Literal(0), Literal(62), Literal(1)),
          LambdaFunction(ShiftLeft(Literal(1L), i), Seq(i))),
        LambdaFunction(Not(EqualTo(BitwiseAnd(x, p), Literal(0L))), Seq(p))), Literal(","), None)
    }),
    "bitPositionsToArray" -> (es => {
      val x = Cast(es.head, LongType)
      val i = lamVar("gr_bp_i")
      ArrayFilter(new Sequence(Literal(0L), Literal(63L), Literal(1L)),
        LambdaFunction(EqualTo(BitwiseAnd(ShiftRight(x, Cast(i, IntegerType)), Literal(1L)), Literal(1L)), Seq(i)))
    }),
    "byteSwap" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[java.lang.Long], LongType, "reverseBytes", Seq(Cast(es.head, LongType)),
      returnNullable = false)),
    "reverseBits" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[java.lang.Long], LongType, "reverse", Seq(Cast(es.head, LongType)),
      returnNullable = false)),
    "gcd" -> (es => GcdExpr(Cast(es(0), LongType), Cast(es(1), LongType))),
    "lcm" -> (es => LcmExpr(Cast(es(0), LongType), Cast(es(1), LongType))),
    // special functions — straight static calls into the
    // commons-math3 kernels Spark already ships (codegen'd via
    // StaticInvoke like reverseBits above; same double-precision
    // algorithms ClickHouse's libm backs these with)
    "erf" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[org.apache.commons.math3.special.Erf], DoubleType, "erf",
      Seq(Cast(es.head, DoubleType)), returnNullable = false)),
    "erfc" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[org.apache.commons.math3.special.Erf], DoubleType, "erfc",
      Seq(Cast(es.head, DoubleType)), returnNullable = false)),
    "lgamma" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[org.apache.commons.math3.special.Gamma], DoubleType, "logGamma",
      Seq(Cast(es.head, DoubleType)), returnNullable = false)),
    "tgamma" -> (es => org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[org.apache.commons.math3.special.Gamma], DoubleType, "gamma",
      Seq(Cast(es.head, DoubleType)), returnNullable = false)),
    // binary min/max in Float64, the CH contract
    "min2" -> (es => Least(es.map(Cast(_, DoubleType)))),
    "max2" -> (es => Greatest(es.map(Cast(_, DoubleType)))),
    // clamp(x, lo, hi) = min(max(x, lo), hi) — errors if lo > hi at
    // runtime in CH; the composition returns hi there, documented
    "clamp" -> (es => Least(Seq(Greatest(Seq(es(0), es(1))), es(2)))),
    "bitShiftLeft"  -> (es => ShiftLeft(Cast(es(0), LongType), Cast(es(1), IntegerType))),
    "bitShiftRight" -> (es => ShiftRight(Cast(es(0), LongType), Cast(es(1), IntegerType))),
    "bitRotateLeft" -> (es => {
      val x = Cast(es(0), LongType)
      val n = Cast(es(1), IntegerType)
      BitwiseOr(ShiftLeft(x, n), ShiftRightUnsigned(x, Subtract(Literal(64), n)))
    }),
    "bitHammingDistance" -> (es =>
      BitwiseCount(BitwiseXor(Cast(es(0), LongType), Cast(es(1), LongType)))),
    // -- guarded integer arithmetic / power helpers
    "intDivOrZero" -> (es => {
      val (a, b) = (Cast(es(0), LongType), Cast(es(1), LongType))
      If(EqualTo(b, Literal(0L)), Literal(0L), new IntegralDivide(a, b))
    }),
    "moduloOrZero" -> (es => {
      val (a, b) = (Cast(es(0), LongType), Cast(es(1), LongType))
      If(EqualTo(b, Literal(0L)), Literal(0L), Remainder(a, b))
    }),
    "intExp2"  -> (es => ShiftLeft(Literal(1L), Cast(es.head, IntegerType))),
    "intExp10" -> (es => Cast(Pow(Literal(10.0d), Cast(es.head, DoubleType)), LongType)),
    // largest power of two ≤ x (0 below 1, CH's convention)
    "roundToExp2" -> (es => {
      val x = Cast(es.head, DoubleType)
      If(LessThan(x, Literal(1.0d)), Literal(0L),
        ShiftLeft(Literal(1L), Cast(Floor(Log2(x)), IntegerType)))
    }),
    "roundDuration" -> (es => stepLadder(es.head,
      Seq(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000))),
    "roundAge" -> (es => stepLadder(es.head, Seq(18, 25, 35, 45, 55))),
    // caseWithExpression — TWO ClickHouse spellings share the name:
    // the 4-arg array remap (x, [from…], [to…], default — same as CH
    // transform) and the variadic CASE-expression lowering
    // (x, when1, then1, …, else). Array literals in positions 1–2
    // pick the remap; anything else builds CaseKeyWhen.
    "caseWithExpression" -> (es =>
      if (es.length == 4 && es(1).isInstanceOf[CreateArray] && es(2).isInstanceOf[CreateArray])
        remap(es(0), es(1), es(2), es(3))
      else {
        require(es.length >= 3, "caseWithExpression needs (x, when1, then1, …[, else])")
        CaseKeyWhen(es.head, es.tail)
      }),
    // `transform` itself dispatches on shape: a lambda second arg is
    // Spark's HOF (unchanged semantics), 3–4 plain args are the CH
    // value remapper — the 3-arg form keeps x itself when unmatched
    "transform" -> (es => es match {
      case Seq(a, l: LambdaFunction)  => ArrayTransform(a, l)
      case Seq(x, from, to)           => remap(x, from, to, x)
      case Seq(x, from, to, d)        => remap(x, from, to, d)
      case _ => throw new IllegalArgumentException(
        "transform takes (array, lambda) or (x, from, to[, default])")
    }),
    // string similarity long tail: native levenshtein under the CH
    // names; stringJaccardIndex is the character-SET Jaccard
    "editDistance"        -> (es => Levenshtein(es(0), es(1))),
    "levenshteinDistance" -> (es => Levenshtein(es(0), es(1))),
    // edit distance over ARRAYS under element equality (SequenceScan)
    "arrayLevenshteinDistance" -> (es => ArrayLevenshteinDistance(es(0), es(1))),
    // bit-level substring: offset 1-based in bits, negative from the
    // end; returns BINARY (sliced bits repacked, zero-padded) since
    // arbitrary bit runs need not be valid UTF-8
    "bitSlice" -> (es => es match {
      case Seq(s, o)    => BitSlice(s, Cast(o, LongType), Literal(0L), hasLength = false)
      case Seq(s, o, l) => BitSlice(s, Cast(o, LongType), Cast(l, LongType), hasLength = true)
      case _ => throw new IllegalArgumentException("bitSlice takes (s, offset[, length])")
    }),
    // Spark's levenshtein already counts code points, so the UTF8
    // spelling is the same kernel
    "editDistanceUTF8"    -> (es => Levenshtein(es(0), es(1))),
    "jaroSimilarity"             -> (es => JaroSimilarity(es(0), es(1))),
    "jaroWinklerSimilarity"      -> (es => JaroWinklerSimilarity(es(0), es(1))),
    "damerauLevenshteinDistance" -> (es => DamerauLevenshtein(es(0), es(1))),
    "byteHammingDistance"        -> (es => ByteHammingDistance(es(0), es(1))),
    "mismatches"                 -> (es => ByteHammingDistance(es(0), es(1))),
    "soundex"                    -> (es => SoundexExpr(es.head)),
    "stringJaccardIndex"  -> (es => stringJaccardExpr(es)),
    "stringJaccardIndexUTF8" -> (es => stringJaccardExpr(es)),
    // extractKeyValuePairs / mapFromString ('a:1,b:2' → map) on the
    // native str_to_map; CH arg order is (text[, kvDelim[, pairDelim]])
    "extractKeyValuePairs" -> (es => StringToMap(es(0),
      if (es.length > 2) es(2) else Literal(","),
      if (es.length > 1) es(1) else Literal(":"))),
    "arrayElement" -> (es => ElementAt(es(0), es(1), None, failOnError = false)),
    "concatAssumeInjective" -> (es => Concat(es)),
    // format('{} and {0}', args…): CH's fmt-style templating — the
    // literal pattern unrolls to a Concat at plan build ({} takes the
    // next arg, {N} is positional, {{ }} escape braces), so the row
    // path is a plain codegen'd concat
    "format" -> (es => {
      val pat = litString(es.head, "format pattern")
      val args = es.tail
      val parts = scala.collection.mutable.ArrayBuffer.empty[Expression]
      val sb = new StringBuilder
      var next = 0
      var i = 0
      while (i < pat.length) {
        val c = pat.charAt(i)
        if (c == '{' && i + 1 < pat.length && pat.charAt(i + 1) == '{') { sb += '{'; i += 2 }
        else if (c == '}' && i + 1 < pat.length && pat.charAt(i + 1) == '}') { sb += '}'; i += 2 }
        else if (c == '{') {
          val close = pat.indexOf('}', i)
          require(close > 0, s"format: unclosed '{' in pattern '$pat'")
          val spec = pat.substring(i + 1, close)
          val idx = if (spec.isEmpty) { val n = next; next += 1; n }
                    else spec.toInt
          require(idx < args.length, s"format: placeholder $idx but only ${args.length} args")
          if (sb.nonEmpty) { parts += Literal(sb.toString); sb.clear() }
          parts += Cast(args(idx), org.apache.spark.sql.types.StringType)
          i = close + 1
        } else { sb += c; i += 1 }
      }
      if (sb.nonEmpty) parts += Literal(sb.toString)
      if (parts.isEmpty) Literal("") else Concat(parts.toSeq)
    }),
    // tuple arithmetic — ClickHouse tuples land as ARRAYS in this
    // engine (the same convention the vector-math family uses), so
    // these are element-wise zips/transforms in double precision
    "tuplePlus"     -> (es => tupleZip(es(0), es(1), Add(_, _))),
    "tupleMinus"    -> (es => tupleZip(es(0), es(1), Subtract(_, _))),
    "tupleMultiply" -> (es => tupleZip(es(0), es(1), Multiply(_, _))),
    "tupleModulo"   -> (es => tupleZip(es(0), es(1), Remainder(_, _))),
    "tupleHammingDistance" -> (es =>
      Cast(zipFold(es(0), es(1), (x, y) =>
        If(EqualTo(x, y), Literal(0.0d), Literal(1.0d))), LongType)),
    "tupleDivide"   -> (es => tupleZip(es(0), es(1), Divide(_, _))),
    "tupleNegate"   -> (es => {
      val x = lamVar("gr_tn_x")
      ArrayTransform(es.head, LambdaFunction(UnaryMinus(Cast(x, DoubleType)), Seq(x)))
    }),
    "tupleConcat"   -> (es => Concat(es)),
    "tupleMultiplyByNumber" -> (es => {
      val x = lamVar("gr_tm_x")
      ArrayTransform(es(0), LambdaFunction(
        Multiply(Cast(x, DoubleType), Cast(es(1), DoubleType)), Seq(x)))
    }),
    "tupleDivideByNumber" -> (es => {
      val x = lamVar("gr_td_x")
      ArrayTransform(es(0), LambdaFunction(
        Divide(Cast(x, DoubleType), Cast(es(1), DoubleType)), Seq(x)))
    }),
    "isNotDistinctFrom" -> (es => EqualNullSafe(es(0), es(1))),
    // struct subcolumn by literal name (CH's tuple-element access
    // spelling for named tuples)
    "getSubcolumn" -> (es =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es(0), es(1))),
    // CH's nowInBlock re-evaluates per block; here it folds per query
    // like now() — the same documented difference generateUUIDv7
    // carries for its timestamp half
    "nowInBlock" -> (_ => CurrentTimestamp()),
    // per-session stable UUID (CH's is per server process — same
    // contract: constant within a running engine)
    "serverUUID" -> (_ => Literal(SessionUuid)),
    // seconds since this JVM came up — the serverUUID of durations
    "uptime" -> (_ => Cast(Divide(
      Cast(Subtract(UnixMillis(CurrentTimestamp()), Literal(JvmStartMs)), DoubleType),
      Literal(1000.0d)), LongType)),
    // Decimal conversions: toDecimalN(x, scale) with CH's width map
    // decimal arithmetic with an explicit (or max-of-inputs, CH's
    // default) result scale at Spark's max precision 38 — CH's
    // Decimal256 headroom caps at 76 digits there, documented
    "multiplyDecimal" -> (es => decimalArith(es, "multiplyDecimal")),
    "divideDecimal"   -> (es => decimalArith(es, "divideDecimal")),
    // schema introspection at plan time: TRUE iff the table exists
    // AND carries the column (CH errors on a missing table; so does
    // the catalog probe here)
    "hasColumnInTable" -> (es => {
      require(es.length == 3,
        "hasColumnInTable takes ('db', 'table', 'column'); remote-host forms refuse " +
          "(no cross-server catalog here)")
      val db = litString(es(0), "hasColumnInTable database")
      val tbl = litString(es(1), "hasColumnInTable table")
      val colName = litString(es(2), "hasColumnInTable column")
      val session = org.apache.spark.sql.SparkSession.active
      val qualified = if (db.isEmpty || db.equalsIgnoreCase("default")) tbl else s"$db.$tbl"
      Literal(session.table(qualified).schema.fieldNames.contains(colName))
    }),
    // date/timestamp ± tuple(interval, …) — fold the struct's
    // interval fields into chained arithmetic the analyzer's binary-
    // arithmetic resolution turns into DateAddInterval/TimeAdd
    "addTupleOfIntervals" -> (es => tupleIntervalFold(es, negate = false)),
    "subtractTupleOfIntervals" -> (es => tupleIntervalFold(es, negate = true)),
    "toDecimal32"  -> (es => Cast(es.head, org.apache.spark.sql.types.DecimalType(9, litInt(es(1), "toDecimal32 scale")))),
    "toDecimal64"  -> (es => Cast(es.head, org.apache.spark.sql.types.DecimalType(18, litInt(es(1), "toDecimal64 scale")))),
    "toDecimal128" -> (es => Cast(es.head, org.apache.spark.sql.types.DecimalType(38, litInt(es(1), "toDecimal128 scale")))),
    // Decimal256 lives within Spark's 38-digit Decimal when the scale
    // fits; values needing more than 38 total digits overflow to
    // NULL/zero per variant (CH's 76-digit headroom past that is
    // documented as unsupported — same bound multiplyDecimal pins)
    "toDecimal256" -> (es => {
      val sc = litInt(es(1), "toDecimal256 scale")
      require(sc <= 38, s"toDecimal256: scale $sc exceeds this engine's 38-digit decimal bound " +
        "(Spark Decimal caps at precision 38; CH Decimal256 scales past it are unsupported)")
      Cast(es.head, org.apache.spark.sql.types.DecimalType(38, sc))
    }),
    "toDecimal32OrNull" -> (es => Cast(es.head,
      org.apache.spark.sql.types.DecimalType(9, litInt(es(1), "toDecimal32OrNull scale")), None, EvalMode.TRY)),
    "toDecimal64OrNull" -> (es => Cast(es.head,
      org.apache.spark.sql.types.DecimalType(18, litInt(es(1), "toDecimal64OrNull scale")), None, EvalMode.TRY)),
    "toDecimal128OrNull" -> (es => Cast(es.head,
      org.apache.spark.sql.types.DecimalType(38, litInt(es(1), "toDecimal128OrNull scale")), None, EvalMode.TRY)),
    "toDecimal32OrZero" -> (es => {
      val dt = org.apache.spark.sql.types.DecimalType(9, litInt(es(1), "toDecimal32OrZero scale"))
      orZeroOf(es.head, Cast(es.head, dt, None, EvalMode.TRY), Cast(Literal(0), dt))
    }),
    "toDecimal64OrZero" -> (es => {
      val dt = org.apache.spark.sql.types.DecimalType(18, litInt(es(1), "toDecimal64OrZero scale"))
      orZeroOf(es.head, Cast(es.head, dt, None, EvalMode.TRY), Cast(Literal(0), dt))
    }),
    "toDecimal128OrZero" -> (es => {
      val dt = org.apache.spark.sql.types.DecimalType(38, litInt(es(1), "toDecimal128OrZero scale"))
      orZeroOf(es.head, Cast(es.head, dt, None, EvalMode.TRY), Cast(Literal(0), dt))
    }),
    // ULID: 48-bit unix-ms + 80 random bits in Crockford base32 (26
    // chars). Timestamp folds per query like generateUUIDv7; the
    // base32hex→Crockford remap is a translate over conv() output.
    "generateULID" -> (_ => {
      def crockford(e: Expression, width: Int) =
        StringLPad(StringTranslate(
          Conv(e, Literal(10), Literal(32)),
          Literal("ABCDEFGHIJKLMNOPQRSTUV"), Literal("ABCDEFGHJKMNPQRSTVWXYZ")),
          Literal(width), Literal("0"))
      def rand40() = Cast(Multiply(new Rand(Literal(scala.util.Random.nextLong())),
        Literal(1099511627776.0d)), LongType)
      Concat(Seq(
        crockford(Cast(UnixMillis(CurrentTimestamp()), org.apache.spark.sql.types.StringType), 10),
        crockford(Cast(rand40(), org.apache.spark.sql.types.StringType), 8),
        crockford(Cast(rand40(), org.apache.spark.sql.types.StringType), 8)))
    }),
    "ULIDStringToDateTime" -> (es => MillisToTimestamp(Cast(
      Conv(StringTranslate(Substring(es.head, Literal(1), Literal(10)),
        Literal("ABCDEFGHJKMNPQRSTVWXYZ"), Literal("ABCDEFGHIJKLMNOPQRSTUV")),
        Literal(32), Literal(10)), LongType))),
    // great-circle distance in meters (haversine, R = 6371 km — CH's
    // spherical model); args (lon1, lat1, lon2, lat2) in degrees
    "greatCircleDistance" -> (es => {
      val Seq(lon1, lat1, lon2, lat2) = es.take(4).map(e => ToRadians(Cast(e, DoubleType)))
      def sin2half(d: Expression) = {
        val s = Sin(Divide(d, Literal(2.0d)))
        Multiply(s, s)
      }
      val h = Add(sin2half(Subtract(lat2, lat1)),
        Multiply(Multiply(Cos(lat1), Cos(lat2)), sin2half(Subtract(lon2, lon1))))
      Multiply(Literal(2.0d * 6371000.0), Asin(Sqrt(h)))
    }),
    // geoDistance: CH refines great-circle with a latitude-dependent
    // WGS84 radius; the spherical haversine (mean radius) is within
    // 0.5% everywhere and keeps the pure expression tree — registered
    // as an alias with that documented approximation
    "geoDistance" -> (es => {
      val Seq(lon1, lat1, lon2, lat2) = es.take(4).map(e => ToRadians(Cast(e, DoubleType)))
      def sin2half(d: Expression) = {
        val s = Sin(Divide(d, Literal(2.0d)))
        Multiply(s, s)
      }
      val h = Add(sin2half(Subtract(lat2, lat1)),
        Multiply(Multiply(Cos(lat1), Cos(lat2)), sin2half(Subtract(lon2, lon1))))
      Multiply(Literal(2.0d * 6371000.0), Asin(Sqrt(h)))
    }),
    // -- geohash pair + polygon containment (native expressions, Geo)
    "geohashEncode" -> (es => GeohashEncode(Cast(es(0), DoubleType), Cast(es(1), DoubleType),
      if (es.length > 2) es(2) else Literal(12))),
    "geohashDecode" -> (es => GeohashDecode(es.head)),
    "pointInPolygon" -> (es => PointInPolygon(es(0), es(1))),
    "geohashesInBox" -> (es => GeohashesInBox(es)),
    // -- cartesian polygon family (native expressions, WktPolygons):
    // Polygon = ARRAY<ARRAY<STRUCT<x,y>>>, ring 0 outer, rest holes
    "readWKTPolygon"             -> (es => ReadWktPolygon(es.head)),
    "polygonAreaCartesian"       -> (es => PolygonAreaCartesian(es.head)),
    "polygonPerimeterCartesian"  -> (es => PolygonPerimeterCartesian(es.head)),
    "polygonConvexHullCartesian" -> (es => PolygonConvexHullCartesian(es.head)),
    // -- H3 index math (native expressions, H3Index): pure bit
    // manipulation over the public cell layout; the geo↔cell
    // projections stay refused below
    "h3GetResolution" -> (es => H3GetResolution(Cast(es.head, LongType))),
    "h3IsValid"       -> (es => H3IsValid(Cast(es.head, LongType))),
    "h3IsPentagon"    -> (es => H3IsPentagon(Cast(es.head, LongType))),
    "h3ToParent"      -> (es => H3ToParent(Cast(es(0), LongType), Cast(es(1), IntegerType))),
    "h3ToChildren"    -> (es => H3ToChildren(Cast(es(0), LongType), Cast(es(1), IntegerType))),
    "stringToH3"      -> (es => StringToH3(es.head)),
    "h3ToString"      -> (es => H3ToString(Cast(es.head, LongType))),
    // central angle in degrees (same haversine core as the distance)
    "greatCircleAngle" -> (es => {
      val Seq(lon1, lat1, lon2, lat2) = es.take(4).map(e => ToRadians(Cast(e, DoubleType)))
      def sin2half(d: Expression) = {
        val s = Sin(Divide(d, Literal(2.0d)))
        Multiply(s, s)
      }
      val h = Add(sin2half(Subtract(lat2, lat1)),
        Multiply(Multiply(Cos(lat1), Cos(lat2)), sin2half(Subtract(lon2, lon1))))
      ToDegrees(Multiply(Literal(2.0d), Asin(Sqrt(h))))
    }),
    // pointInEllipses(x, y, x0, y0, a, b[, x1, y1, a1, b1, …]) — true
    // if the point is inside ANY of the axis-aligned ellipses
    "pointInEllipses" -> (es => {
      require(es.length >= 6 && (es.length - 2) % 4 == 0,
        "pointInEllipses takes (x, y) plus groups of (x0, y0, a, b)")
      val x = Cast(es(0), DoubleType)
      val y = Cast(es(1), DoubleType)
      val tests = es.drop(2).grouped(4).map { g =>
        val Seq(cx, cy, a, b) = g.map(e => Cast(e, DoubleType))
        def sq(e: Expression) = Multiply(e, e)
        LessThanOrEqual(
          Add(Divide(sq(Subtract(x, cx)), sq(a)), Divide(sq(Subtract(y, cy)), sq(b))),
          Literal(1.0d)): Expression
      }.toSeq
      If(tests.reduceLeft(Or), Literal(1), Literal(0))
    }),
    // -- series analysis over groupArray'd arrays
    "seriesOutliersDetectTukey" -> (es => SeriesOutliersTukey(es.head,
      if (es.length > 1) Cast(es(1), DoubleType) else Literal(0.25d),
      if (es.length > 2) Cast(es(2), DoubleType) else Literal(0.75d),
      if (es.length > 3) Cast(es(3), DoubleType) else Literal(1.5d))),
    "seriesPeriodDetectFFT" -> (es => SeriesPeriodDetect(es.head)),
    "seriesDecomposeSTL" -> (es => SeriesDecompose(es(0), es(1))),
    // -- random distributions, derived from Rand/Randn by the
    // standard transforms (Box-Muller is already inside Randn). Each
    // call site gets a fresh seed at plan-build; per-row values are
    // i.i.d. like the CH originals. Discrete heavy-tail generators
    // (Poisson/Binomial/StudentT/ChiSquared/FisherF) are deliberately
    // absent — calls fail loudly at resolution, never silently wrong.
    "randUniform" -> (es => Add(Cast(es(0), DoubleType),
      Multiply(new Rand(Literal(scala.util.Random.nextLong())),
        Subtract(Cast(es(1), DoubleType), Cast(es(0), DoubleType))))),
    "randNormal" -> (es => Add(Cast(es(0), DoubleType),
      Multiply(Cast(es(1), DoubleType), new Randn(Literal(scala.util.Random.nextLong()))))),
    "randLogNormal" -> (es => Exp(Add(Cast(es(0), DoubleType),
      Multiply(Cast(es(1), DoubleType), new Randn(Literal(scala.util.Random.nextLong())))))),
    // −ln(1−U)/λ keeps the argument in (0, 1] — no log(0)
    "randExponential" -> (es => Divide(
      UnaryMinus(Log(Subtract(Literal(1.0d), new Rand(Literal(scala.util.Random.nextLong()))))),
      Cast(es.head, DoubleType))),
    "randBernoulli" -> (es => If(
      LessThan(new Rand(Literal(scala.util.Random.nextLong())), Cast(es.head, DoubleType)),
      Literal(1), Literal(0))),
    "randCauchy" -> (es => Add(Cast(es(0), DoubleType),
      Multiply(Cast(es(1), DoubleType),
        Tan(Multiply(Literal(math.Pi),
          Subtract(new Rand(Literal(scala.util.Random.nextLong())), Literal(0.5d))))))),
    // 64-bit uniform: xxhash of a fresh-seeded rand (all 64 bits
    // exercised; CH's rand64 contract is "uniform UInt64", not a
    // specific stream)
    "rand64" -> (_ => new XxHash64(Seq(new Rand(Literal(scala.util.Random.nextLong()))))),
    // one random value per query, constant across rows — drawn at
    // plan build, exactly CH's per-block-constant intent
    "randConstant" -> (_ => Literal(scala.util.Random.nextLong() >>> 32)),
    // random printable strings (space..tilde). randomString shares
    // the printable alphabet — emitting raw random bytes would
    // produce invalid UTF-8 under Spark's string type.
    "randomPrintableASCII" -> (es => randPrintable(es.head)),
    "randomString"         -> (es => randPrintable(es.head)),
    // UUIDv7: unix-ms (48 bits) + version nibble '7' + random tail
    // from a v4 uuid (its variant nibble is already RFC-correct).
    // Timestamp is query-evaluation time (CurrentTimestamp folds per
    // query, CH stamps per row — documented difference).
    "generateUUIDv7" -> (_ => {
      val tsHex = Lower(StringLPad(Hex(UnixMillis(CurrentTimestamp())), Literal(12), Literal("0")))
      val clean = StringReplace(new Uuid(), Literal("-"), Literal(""))
      Concat(Seq(
        Substring(tsHex, Literal(1), Literal(8)), Literal("-"),
        Substring(tsHex, Literal(9), Literal(4)), Literal("-7"),
        Substring(clean, Literal(14), Literal(3)), Literal("-"),
        Substring(clean, Literal(17), Literal(4)), Literal("-"),
        Substring(clean, Literal(21), Literal(12))))
    }),
    "UUIDv7ToDateTime" -> (es => MillisToTimestamp(Cast(
      Conv(Concat(Seq(Substring(es.head, Literal(1), Literal(8)),
        Substring(es.head, Literal(10), Literal(4)))), Literal(16), Literal(10)),
      LongType))),
    // -- hash functions. cityHash64 (CityHash v1.0.2, the version CH
    // pinned) and sipHash64 (SipHash-2-4, key 0) are real kernels with
    // ClickHouse VALUE parity for String/FixedString arguments,
    // including the multi-arg combine convention; non-string args keep
    // the engine-internal seeded remap (see ChWireHash scaladoc).
    "cityHash64" -> (es => ChWireHash(es, "cityHash64", 42L)),
    "sipHash64"  -> (es => ChWireHash(es, "sipHash64", 9L)),
    // sipHash64Keyed((k0, k1), s): the SAME SipHash-2-4 kernel under
    // the caller's key — CH VALUE parity for one String/FixedString
    // message. The multi-argument combine interleaves the key into
    // CH's internal chaining, which the combine kernel does not
    // model — refuse rather than return non-wire values under a name
    // that promises them
    "sipHash64Keyed" -> (es => {
      val (k0, k1) = es.head match {
        case ns: CreateNamedStruct if ns.valExprs.size == 2 =>
          (ns.valExprs.head, ns.valExprs(1))
        case _ => throw new IllegalArgumentException(
          "sipHash64Keyed takes ((k0, k1), message) — pass the key as tuple(k0, k1)")
      }
      es.tail match {
        case Seq(msg) => SipHashKeyedExpr(Cast(k0, LongType), Cast(k1, LongType), msg)
        case _ => throw new UnsupportedOperationException(
          "sipHash64Keyed supports one message argument (wire parity); for multi-argument " +
            "combining use sipHash64, or concatenate the arguments explicitly")
      }
    }),
    // more CH hash spellings on the same contract (the engine's
    // deterministic 64-bit kernel under distinct seeds — these names
    // promise a stable hash, not a byte-level CH replay); the 32-bit
    // ones mask to the unsigned range CH returns
    // real CH kernel: the published murmur fmix64 finalizer
    "intHash64"      -> (es => IntHash64Expr(Cast(es.head, LongType))),
    "URLHash"        -> (es => XxHash64(es, 103L)),
    "murmurHash2_64" -> (es => XxHash64(es, 104L)),
    "murmurHash3_64" -> (es => XxHash64(es, 105L)),
    "murmurHash2_32" -> (es =>
      BitwiseAnd(Cast(new Murmur3Hash(es, 106), LongType), Literal(0xFFFFFFFFL))),
    // 16-byte digest spelled as two independent 64-bit lanes (same
    // engine-internal-remap convention as the murmur aliases above)
    "murmurHash3_128" -> (es => Unhex(Concat(Seq(
      StringLPad(Hex(XxHash64(es, 107L)), Literal(16), Literal("0")),
      StringLPad(Hex(XxHash64(es, 108L)), Literal(16), Literal("0")))))),
    "metroHash64"    -> (es => XxHash64(es, 106L)),
    "wyHash64"       -> (es => XxHash64(es, 107L)),
    "intHash32"      -> (es => BitwiseAnd(XxHash64(es, 102L), Literal(0xFFFFFFFFL))),
    // true MurmurHash3 x86_32 (Spark's native kernel), unsigned
    "murmurHash3_32" -> (es => BitwiseAnd(Cast(new Murmur3Hash(es), LongType), Literal(0xFFFFFFFFL))),
    "hiveHash"       -> (es => HiveHash(es)),
    // remaining alias spellings on the same seeded-kernel contract
    "farmHash64"        -> (es => XxHash64(es, 108L)),
    "farmFingerprint64" -> (es => XxHash64(es, 109L)),
    "kafkaMurmurHash"   -> (es => BitwiseAnd(XxHash64(es, 110L), Literal(0xFFFFFFFFL))),
    "gccMurmurHash"     -> (es => XxHash64(es, 111L)),
    // VALUE-parity kernels (same numbers as ClickHouse for the same
    // string): true xxHash64/xxHash32 (seed 0), CRC32 (IEEE), CRC64
    // (ECMA/XZ), javaHash (String.hashCode), halfMD5
    // CAREFUL: the name "xxHash64" also shadows Spark's builtin
    // xxhash64 (the session registry is case-insensitive and the
    // Column API resolves functions BY NAME in Spark 4). A
    // single-string call gets the CH value-parity kernel; any other
    // shape keeps the builtin's variadic type-tagged behavior, so
    // internal callers (Dedup band hashing, Skew salting) and
    // migrated multi-arg SQL are unchanged.
    "xxHash64" -> (es =>
      if (es.length == 1 && es.head.resolved &&
          es.head.dataType == org.apache.spark.sql.types.StringType)
        HashKernelExpr(es.head, "xxHash64")
      else new XxHash64(es)),
    "xxh3"            -> (es => XxHash64(es, 112L)), // alias contract, not byte-parity
    "xxHash32"        -> (es => HashKernelExpr(es.head, "xxHash32")),
    // same shadowing rule for Spark's crc32(binary)
    "CRC32" -> (es =>
      if (es.head.resolved && es.head.dataType == org.apache.spark.sql.types.StringType)
        HashKernelExpr(es.head, "crc32")
      else Crc32(es.head)),
    "CRC32IEEE"       -> (es => HashKernelExpr(es.head, "crc32")),
    "CRC64"           -> (es => HashKernelExpr(es.head, "crc64")),
    "javaHash"        -> (es => HashKernelExpr(es.head, "javaHash")),
    "javaHashUTF16LE" -> (es => HashKernelExpr(es.head, "javaHashUTF16LE")),
    "halfMD5"         -> (es => HashKernelExpr(es.head, "halfMD5")),
    // scalar sketch spellings (CH defaults: minhash gram 3 / 6
    // hashes, ngramSimHash gram 2, wordShingleSimHash shingle 3)
    "ngramMinHash" -> (es => TextSketch(es.head,
      if (es.length > 1) es(1) else Literal(3),
      if (es.length > 2) es(2) else Literal(6), "ngramMinHash")),
    "wordShingleMinHash" -> (es => TextSketch(es.head,
      if (es.length > 1) es(1) else Literal(3),
      if (es.length > 2) es(2) else Literal(6), "wordShingleMinHash")),
    "ngramSimHash" -> (es => TextSketch(es.head,
      if (es.length > 1) es(1) else Literal(2), Literal(0), "ngramSimHash")),
    "wordShingleSimHash" -> (es => TextSketch(es.head,
      if (es.length > 1) es(1) else Literal(3), Literal(0), "wordShingleSimHash")),
    // 128-bit digest spelling → hex MD5 (stable, 16 bytes)
    "sipHash128"     -> (es => Md5(Cast(es.head, org.apache.spark.sql.types.BinaryType))),
    "ascii"          -> (es => Ascii(es.head)),
    "repeat"         -> (es => StringRepeat(es(0), es(1))),
    "space"          -> (es => StringSpace(es.head)),
    "substringIndex" -> (es => SubstringIndex(es(0), es(1), es(2))),
    "appendTrailingCharIfAbsent" -> (es =>
      If(EndsWith(es(0), es(1)), es(0), Concat(Seq(es(0), es(1))))),
    "firstLine"      -> (es => SubstringIndex(es.head, Literal("\n"), Literal(1))),
    "startsWithUTF8" -> (es => StartsWith(es(0), es(1))),
    "endsWithUTF8"   -> (es => EndsWith(es(0), es(1))),
    "encodeURLComponent"     -> (es => UrlEncode(es.head)),
    "encodeURLFormComponent" -> (es => UrlEncode(es.head)),
    "decodeURLComponent"     -> (es => UrlDecode(es.head)),
    "decodeURLFormComponent" -> (es => UrlDecode(es.head)),
    // XML entity escaping (amp first on encode, last on decode)
    "encodeXMLComponent" -> (es => {
      val amp = StringReplace(es.head, Literal("&"), Literal("&amp;"))
      val lt  = StringReplace(amp, Literal("<"), Literal("&lt;"))
      val gt  = StringReplace(lt, Literal(">"), Literal("&gt;"))
      val qt  = StringReplace(gt, Literal("\""), Literal("&quot;"))
      StringReplace(qt, Literal("'"), Literal("&apos;"))
    }),
    "decodeXMLComponent" -> (es => {
      val qt = StringReplace(es.head, Literal("&quot;"), Literal("\""))
      val ap = StringReplace(qt, Literal("&apos;"), Literal("'"))
      val lt = StringReplace(ap, Literal("&lt;"), Literal("<"))
      val gt = StringReplace(lt, Literal("&gt;"), Literal(">"))
      StringReplace(gt, Literal("&amp;"), Literal("&"))
    }),
    // crude-but-faithful HTML text extraction: drop script/style
    // blocks, drop tags, collapse whitespace — the corpus-cleaning
    // step an LLM ingest pipeline runs at full scale (one codegen'd
    // projection, no shuffle)
    "extractTextFromHTML" -> (es =>
      new StringTrimBoth(RegExpReplace(
        RegExpReplace(
          RegExpReplace(es.head,
            Literal("(?is)<(script|style)[^>]*>.*?</(script|style)>"), Literal(" ")),
          Literal("<[^>]*>"), Literal(" ")),
        Literal("\\s+"), Literal(" ")))),
    // round-trip through a validating UTF-8 decode: invalid byte
    // sequences become U+FFFD, CH's toValidUTF8 contract
    "toValidUTF8" -> (es =>
      StringDecode(Encode(es.head, Literal("UTF-8")), Literal("UTF-8"))),
    "isValidUTF8" -> (es =>
      EqualTo(es.head, StringDecode(Encode(es.head, Literal("UTF-8")), Literal("UTF-8")))),
    // -- positional array transforms. All guard the empty array
    // (Sequence(1, 0) would count DOWN — Spark picks the step sign
    // from the direction); results are double-typed like the CH
    // originals' Float64 output for non-integral inputs.
    "arrayEnumerate" -> (es => {
      val arr = es.head
      If(LessThanOrEqual(Size(arr), Literal(0)),
        Literal.create(Array.empty[Int], org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
        new Sequence(Literal(1), Size(arr), None))
    }),
    "arrayCumSum" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      // CH keeps integral running sums integral (arrayCumSum([6,-9])
      // = [6,-3] Int64, never [6.0,-3.0]) — the round-18 dialect fuzz
      // caught the unconditional Double accumulator. Long carries any
      // integral element; floats stay Double.
      val accT = cumAccType(es.head)
      val last = If(EqualTo(Size(acc), Literal(0)), Literal.default(accT),
        ElementAt(acc, Literal(-1), None, failOnError = false))
      ArrayAggregate(es.head,
        Literal.create(Array.empty[Any], org.apache.spark.sql.types.ArrayType(accT)),
        LambdaFunction(Concat(Seq(acc, CreateArray(Seq(Add(last, Cast(x, accT)))))), Seq(acc, x)),
        LambdaFunction.identity)
    }),
    // running sum clamped at zero after each step (CH's gauge-reset
    // semantics: a negative dip restarts accumulation from 0)
    "arrayCumSumNonNegative" -> (es => {
      val acc = lamVar("gr_acc")
      val x   = lamVar("gr_x")
      val accT = cumAccType(es.head)
      val last = If(EqualTo(Size(acc), Literal(0)), Literal.default(accT),
        ElementAt(acc, Literal(-1), None, failOnError = false))
      ArrayAggregate(es.head,
        Literal.create(Array.empty[Any], org.apache.spark.sql.types.ArrayType(accT)),
        LambdaFunction(Concat(Seq(acc, CreateArray(Seq(
          Greatest(Seq(Literal.default(accT), Add(last, Cast(x, accT)))))))), Seq(acc, x)),
        LambdaFunction.identity)
    }),
    "arrayDifference" -> (es => {
      val arr = es.head
      val accT = cumAccType(arr)
      val i = lamVar("gr_i")
      If(LessThanOrEqual(Size(arr), Literal(0)),
        Literal.create(Array.empty[Any], org.apache.spark.sql.types.ArrayType(accT)),
        ArrayTransform(new Sequence(Literal(1), Size(arr), None),
          LambdaFunction(
            If(EqualTo(i, Literal(1)), Literal.default(accT),
              Subtract(Cast(ElementAt(arr, i, None, failOnError = false), accT),
                Cast(ElementAt(arr, Subtract(i, Literal(1)), None, failOnError = false), accT))),
            Seq(i))))
    }),
    // uniqUpTo(N)(x): exact distinct count saturating at N+1 (CH
    // semantics). The exact count is cheap because saturation implies
    // the user accepts coarse cardinality — still expressed as the
    // native distinct-Count so partial aggregation applies.
    "uniqUpTo" -> (es => es match {
      case Seq(n, x) => Least(Seq(
        Count(Seq(x)).toAggregateExpression(isDistinct = true),
        Cast(Add(n, Literal(1)), LongType)))
      case _ => throw new IllegalArgumentException("uniqUpTo takes (N)(expr)")
    }),
    // -- -Array aggregate combinators: aggregate over all ELEMENTS of
    // all arrays in the group. Element sums fold per row (ArrayAggregate)
    // then Sum across rows — stays inside partial aggregation.
    "sumArray" -> (es => sumFold(es.head, LambdaFunction.identity) match {
      case fold => Sum(fold).toAggregateExpression()
    }),
    "avgArray" -> (es =>
      Divide(Sum(sumFold(es.head, LambdaFunction.identity)).toAggregateExpression(),
             Sum(Cast(Size(es.head), DoubleType)).toAggregateExpression())),
    // max/min of per-row element extremes (empty arrays yield null,
    // which the outer Max/Min skip); count sums the sizes
    "maxArray" -> (es => Max(ArrayMax(es.head))),
    "minArray" -> (es => Min(ArrayMin(es.head))),
    "countArray" -> (es => Sum(Cast(Size(es.head), LongType))),
    // exact distinct over the union of elements. Collects the group's
    // arrays once — bounded by (distinct elements × rows); the scalar
    // uniq spellings are the sketch path for unbounded domains.
    "uniqArray" -> (es => Cast(
      Size(ArrayDistinct(Flatten(CollectList(es.head).toAggregateExpression()))), LongType)),
    // -If combinator on any()'s deterministic cousins
    "anyIf" -> (es => First(nullIfNot(es(1), es(0)), ignoreNulls = true)),
    "anyLastIf" -> (es => Last(nullIfNot(es(1), es(0)), ignoreNulls = true)),
    // t-digest quantile sketch ≈ Spark's approx_percentile sketch —
    // both approximate-with-bounded-state; parametric spelling
    // quantileTDigest(0.5)(x) flattens like quantile
    "quantileTDigest" -> (es => new ApproximatePercentile(es(1), es(0))),
    // DDSketch spelling: quantileDD(rel_accuracy[, level])(x) — same
    // bounded-state sketch family; the relative accuracy maps to the
    // percentile sketch's inverse-error knob (documented
    // approximation, like quantileTDigest)
    "quantileDD" -> (es => {
      val (acc, level, x) = es match {
        case Seq(a, x)    => (a, Literal(0.5d), x)
        case Seq(a, l, x) => (a, l, x)
        case _ => throw new IllegalArgumentException(
          "quantileDD takes (accuracy[, level])(x)")
      }
      val accInt = acc match {
        case Literal(d: Double, _) => math.max(100, math.ceil(1.0 / math.max(d, 1e-6)).toInt)
        case _ => 10000
      }
      new ApproximatePercentile(x, level, Literal(accInt))
    }),
    // -- -State / -Merge combinators, the spellings ClickHouse
    // materialized-view SQL emits (AggregatingMergeTree targets).
    // States here are Spark-native values with the same merge algebra:
    // a partial sum IS a sum, a partial count merges by summing, avg
    // carries (sum, count) as a struct, uniq carries an HLL sketch
    // binary. [[graft.operators.MatView]] is the storage side of the
    // same contract.
    "sumState"   -> (es => Sum(Cast(es.head, DoubleType))),
    "sumMerge"   -> (es => Sum(es.head)),
    "countState" -> (es => Count(if (es.isEmpty) Seq(Literal(1)) else es)),
    "countMerge" -> (es => Sum(es.head).toAggregateExpression() match {
      case agg => Cast(agg, LongType)
    }),
    "minState"   -> (es => Min(es.head)),
    "minMerge"   -> (es => Min(es.head)),
    "maxState"   -> (es => Max(es.head)),
    "maxMerge"   -> (es => Max(es.head)),
    "avgState"   -> (es => CreateNamedStruct(Seq(
      Literal("s"), Sum(Cast(es.head, DoubleType)).toAggregateExpression(),
      Literal("c"), Count(Seq(es.head)).toAggregateExpression()))),
    "avgMerge"   -> (es => Divide(
      Sum(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("s"))).toAggregateExpression(),
      Cast(Sum(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("c"))).toAggregateExpression(), DoubleType))),
    // uniqState serializes a DataSketches HLL — NOT ClickHouse's
    // on-the-wire uniq state (an engine-internal adaptive format
    // with no stability contract; deliberate descope, SURVEY §2
    // q35b). uniqMerge therefore merges only states THIS engine
    // wrote; binary states exported from a live CH must be
    // re-materialized from the raw table on import (the merge of a
    // foreign blob fails loudly in sketch deserialization).
    "uniqState"  -> (es => new HllSketchAgg(es.head)),
    "uniqMerge"  -> (es => HllSketchEstimate(new HllUnionAgg(es.head).toAggregateExpression())),
    "uniqExactState" -> (es => CollectSet(es.head)),
    "uniqExactMerge" -> (es => Cast(
      Size(ArrayDistinct(Flatten(CollectList(es.head).toAggregateExpression()))), LongType)),
    // sketch-valued states (topK space-saving, t-digest, adaptive
    // histogram) have engine-internal buffers with no SQL value
    // representation — the exact spellings carry the same contract
    "topKState" -> (_ => throw new UnsupportedOperationException(
      "topK's sketch state is not value-representable; store groupArrayState and recompute, or topK on read")),
    "topKMerge" -> (_ => throw new UnsupportedOperationException(
      "topK's sketch state is not value-representable; store groupArrayState and recompute, or topK on read")),
    "quantileTDigestState" -> (_ => throw new UnsupportedOperationException(
      "t-digest state is engine-internal; use quantileState/quantileMerge (exact, same call shape)")),
    "quantileTDigestMerge" -> (_ => throw new UnsupportedOperationException(
      "t-digest state is engine-internal; use quantileState/quantileMerge (exact, same call shape)")),
    "histogramState" -> (_ => throw new UnsupportedOperationException(
      "adaptive-histogram state is engine-internal; store groupArrayState and histogram on read")),
    // groupArray state = partial array; merge concatenates (the
    // groupArray insertion-order caveat applies — callers sort)
    "groupArrayState" -> (es => CollectList(es.head)),
    "groupArrayMerge" -> (es => Flatten(CollectList(es.head).toAggregateExpression())),
    "groupUniqArrayState" -> (es => CollectSet(es.head)),
    "groupUniqArrayMerge" -> (es =>
      ArrayDistinct(Flatten(CollectList(es.head).toAggregateExpression()))),
    // any/anyLast states are the deterministic any convention itself
    "anyState"      -> (es => Min(es.head)),
    "anyMerge"      -> (es => Min(es.head)),
    "anyLastState"  -> (es => Last(es.head, ignoreNulls = true)),
    "anyLastMerge"  -> (es => Last(es.head, ignoreNulls = true)),
    // argMax/argMin: the state carries (arg-at-edge, edge value) so
    // merging re-runs the same edge fight over partials
    "argMaxState" -> (es => CreateNamedStruct(Seq(
      Literal("a"), MaxBy(es(0), es(1)).toAggregateExpression(),
      Literal("v"), Max(es(1)).toAggregateExpression()))),
    "argMaxMerge" -> (es => MaxBy(
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("a")),
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("v")))),
    "argMinState" -> (es => CreateNamedStruct(Seq(
      Literal("a"), MinBy(es(0), es(1)).toAggregateExpression(),
      Literal("v"), Min(es(1)).toAggregateExpression()))),
    "argMinMerge" -> (es => MinBy(
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("a")),
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("v")))),
    // exact-quantile state = the sorted partial multiset; merge
    // re-sorts the concatenation and interpolates (Percentile INC)
    "quantileState" -> (es => new SortArray(CollectList(es.head).toAggregateExpression())),
    "medianState"   -> (es => new SortArray(CollectList(es.head).toAggregateExpression())),
    "quantileMerge" -> (es => es match {
      case Seq(p, s) => percentileIncOfArray(
        new SortArray(Flatten(CollectList(s).toAggregateExpression())), p)
      case Seq(s) => percentileIncOfArray(
        new SortArray(Flatten(CollectList(s).toAggregateExpression())), Literal(0.5d))
      case _ => throw new IllegalArgumentException("quantileMerge takes (level)(state)")
    }),
    "medianMerge" -> (es => percentileIncOfArray(
      new SortArray(Flatten(CollectList(es.head).toAggregateExpression())), Literal(0.5d))),
    // sumMap state IS the (keys, vals) result struct; merge re-folds
    "sumMapState" -> (es => mapAggOf(es, "sum")),
    "sumMapMerge" -> (es => GraftMapAgg(
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("keys")),
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("vals")),
      "sum")),
    // bitwise partials merge with the same operation
    "groupBitAndState" -> (es => BitAndAgg(es.head)),
    "groupBitAndMerge" -> (es => BitAndAgg(es.head)),
    "groupBitOrState"  -> (es => BitOrAgg(es.head)),
    "groupBitOrMerge"  -> (es => BitOrAgg(es.head)),
    "groupBitXorState" -> (es => BitXorAgg(es.head)),
    "groupBitXorMerge" -> (es => BitXorAgg(es.head)),
    // -SimpleState: the stored state IS the plain value for these
    "sumSimpleState" -> (es => Sum(es.head)),
    "minSimpleState" -> (es => Min(es.head)),
    "maxSimpleState" -> (es => Max(es.head)),
    "anySimpleState" -> (es => Min(es.head)),
    // sequence/funnel states are event buffers, not values — the MV
    // pattern is to store raw events and re-aggregate on read
    "windowFunnelMerge" -> (_ => throw new UnsupportedOperationException(
      "windowFunnel has no mergeable value state here; store raw events in the MV and re-aggregate")),
    "retentionMerge" -> (_ => throw new UnsupportedOperationException(
      "retention has no mergeable value state here; store raw events in the MV and re-aggregate")),
    "sequenceMatchMerge" -> (_ => throw new UnsupportedOperationException(
      "sequenceMatch has no mergeable value state here; store raw events in the MV and re-aggregate")),
    // -If over parametric quantiles: null the value where the
    // condition fails (Percentile skips nulls)
    "quantileIf" -> (es => es match {
      case Seq(p, x, c) => new Percentile(nullIfNot(c, x), p)
      case Seq(x, c)    => new Percentile(nullIfNot(c, x), Literal(0.5d))
      case _ => throw new IllegalArgumentException("quantileIf takes (level)(expr, cond)")
    }),
    "medianIf" -> (es => new Percentile(nullIfNot(es(1), es(0)), Literal(0.5d))),
    // -- window-function spellings. ClickHouse's lagInFrame /
    // leadInFrame are exactly Spark's lag/lead (CH renamed them to
    // avoid its own legacy neighbor()); they resolve to the native
    // offset window functions and require an OVER clause like any
    // window function.
    "lagInFrame" -> (es => es match {
      case Seq(x)       => Lag(x, Literal(1), Literal(null), ignoreNulls = false)
      case Seq(x, o)    => Lag(x, o, Literal(null), ignoreNulls = false)
      case Seq(x, o, d) => Lag(x, o, d, ignoreNulls = false)
      case _ => throw new IllegalArgumentException("lagInFrame takes (expr[, offset[, default]])")
    }),
    "leadInFrame" -> (es => es match {
      case Seq(x)       => Lead(x, Literal(1), Literal(null), ignoreNulls = false)
      case Seq(x, o)    => Lead(x, o, Literal(null), ignoreNulls = false)
      case Seq(x, o, d) => Lead(x, o, d, ignoreNulls = false)
      case _ => throw new IllegalArgumentException("leadInFrame takes (expr[, offset[, default]])")
    }),
    // deprecated block-order functions: their result depends on the
    // physical row order within a processing block — meaningless on a
    // distributed engine (and deprecated in ClickHouse for the same
    // reason). Loud errors point at the deterministic window
    // spellings a migrated query should use instead.
    "runningDifference" -> (_ => throw new UnsupportedOperationException(
      "runningDifference is block-order dependent; use x - lagInFrame(x) OVER (ORDER BY …) " +
        "or nonNegativeDerivative(x, t) OVER (…)")),
    "runningDifferenceStartingWithFirstValue" -> (_ => throw new UnsupportedOperationException(
      "runningDifferenceStartingWithFirstValue is block-order dependent; use lagInFrame under an explicit window")),
    "runningAccumulate" -> (_ => throw new UnsupportedOperationException(
      "runningAccumulate is block-order dependent; use sum(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)")),
    "neighbor" -> (_ => throw new UnsupportedOperationException(
      "neighbor is block-order dependent; use lagInFrame/leadInFrame OVER (ORDER BY …)")),
    // WKT points: format / parse the one geometry the engine's geo
    // family models natively ((x, y) structs)
    "wkt" -> (es => Concat(Seq(Literal("POINT("),
      Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("col1")),
        org.apache.spark.sql.types.StringType),
      Literal(" "),
      Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(es.head, Literal("col2")),
        org.apache.spark.sql.types.StringType),
      Literal(")")))),
    "readWKTPoint" -> (es => {
      val pat = "POINT\\s*\\(\\s*(-?[0-9.]+)\\s+(-?[0-9.]+)\\s*\\)"
      CreateStruct(Seq(
        Cast(RegExpExtract(es.head, Literal(pat), Literal(1)), DoubleType),
        Cast(RegExpExtract(es.head, Literal(pat), Literal(2)), DoubleType)))
    }),
    // network IO / embedded-geobase lookups have no deterministic
    // distributed analog — loud errors name the replacement
    "reverseDNSQuery" -> (_ => throw new UnsupportedOperationException(
      "reverseDNSQuery performs network IO; resolve offline and join the result table")),
    "regionToCountry" -> (_ => throw new UnsupportedOperationException(
      "regionTo* needs an embedded geobase; load it as a dimension table and dictGet it")),
    "regionToContinent" -> (_ => throw new UnsupportedOperationException(
      "regionTo* needs an embedded geobase; load it as a dimension table and dictGet it")),
    "regionToCity" -> (_ => throw new UnsupportedOperationException(
      "regionTo* needs an embedded geobase; load it as a dimension table and dictGet it")),
    "geoToH3" -> (_ => throw new UnsupportedOperationException(
      "the geo↔H3 projections need the native library's icosahedral gnomonic tables; " +
        "geohashEncode covers the lat/lon bucketing use, and the h3* index math " +
        "(h3ToParent, h3ToChildren, h3GetResolution, …) runs natively on indexes you already have")),
    "h3ToGeo" -> (_ => throw new UnsupportedOperationException(
      "the geo↔H3 projections need the native library's icosahedral gnomonic tables; " +
        "geohashDecode covers the bucketing use")),
    // NLP lookups need compiled model/dictionary files ClickHouse
    // itself only enables with an NLP build + server-side configs
    "detectLanguage" -> (_ => throw new UnsupportedOperationException(
      "detectLanguage needs CLD-style compiled models; graft.operators.TextAnalysis.langId " +
        "(q62) is the in-engine n-gram heuristic")),
    "detectCharset" -> (_ => throw new UnsupportedOperationException(
      "detectCharset needs trained charset models; decode explicitly or store UTF-8")),
    "stem" -> (_ => throw new UnsupportedOperationException(
      "stem needs per-language stemmer data files; tokenize and join a lemma dimension table")),
    "lemmatize" -> (_ => throw new UnsupportedOperationException(
      "lemmatize needs per-language lemma dictionaries; join a lemma dimension table")),
    "synonyms" -> (_ => throw new UnsupportedOperationException(
      "synonyms needs a configured synonym-set file; join a synonyms dimension table")),
    // polygon set operations need a full geometry engine (the
    // cartesian measures above are native)
    "polygonsIntersectionCartesian" -> (_ => throw new UnsupportedOperationException(
      "polygon boolean operations need a geometry engine; polygonAreaCartesian/" +
        "polygonPerimeterCartesian/polygonConvexHullCartesian/pointInPolygon run natively")),
    "transactionID" -> (_ => throw new UnsupportedOperationException(
      "transactionID belongs to ClickHouse's experimental transactions; Spark writes are " +
        "atomic per job — use the write's commit identity instead")),
    "dictGetAll" -> (_ => throw new UnsupportedOperationException(
      "dictGetAll matches regexp-tree dictionaries, which this engine does not model; " +
        "use a LEFT JOIN against the pattern table with rlike")),
    "lowCardinalityIndices" -> (_ => throw new UnsupportedOperationException(
      "lowCardinalityIndices is dictionary-block-scoped; use dense_rank() OVER (ORDER BY x) for a stable encoding")),
    "lowCardinalityKeys" -> (_ => throw new UnsupportedOperationException(
      "lowCardinalityKeys is dictionary-block-scoped; use collect_set/array_distinct for the value dictionary")),
    // block introspection belongs to the single-node executor model —
    // Spark has no stable block identity to expose
    "blockSize" -> (_ => throw new UnsupportedOperationException(
      "blockSize is block-scoped; partition sizes are a plan/metrics concern on Spark")),
    "blockNumber" -> (_ => throw new UnsupportedOperationException(
      "blockNumber is block-scoped; use spark_partition_id() if partition identity is wanted")),
    "rowNumberInBlock" -> (_ => throw new UnsupportedOperationException(
      "rowNumberInBlock is block-order dependent; use row_number() OVER (ORDER BY …)")),
    "rowNumberInAllBlocks" -> (_ => throw new UnsupportedOperationException(
      "rowNumberInAllBlocks is block-order dependent; use row_number() OVER (ORDER BY …)")),
    // multi-column expansion needs parser support Spark reserves for
    // attribute stars; the aliased-subquery spelling is equivalent
    // struct → [(name, value)] pairs; Spark coerces the field values
    // to a common type exactly as CH requires of the tuple
    "tupleToNameValuePairs" -> (es => {
      val st = es.head.dataType match {
        case s: org.apache.spark.sql.types.StructType => s
        case other => throw new IllegalArgumentException(
          s"tupleToNameValuePairs takes a named tuple, got ${other.sql}")
      }
      CreateArray(st.fields.zipWithIndex.map { case (f, i) =>
        CreateStruct(Seq(Literal(f.name), GetStructField(es.head, i)))
      }.toSeq)
    }),
    "BLAKE3" -> (_ => throw new UnsupportedOperationException(
      "BLAKE3 needs its native library; sha256/sipHash64 cover keyed/cryptographic hashing here")),
    "untuple" -> (_ => throw new UnsupportedOperationException(
      "untuple expands to multiple columns, which only works on a named struct: " +
        "alias the tuple in a subquery and select `t.*` — " +
        "SELECT u.* FROM (SELECT <tuple-expr> AS u FROM …)")),
    // SGD aggregates fold state in row-visit order — nondeterministic
    // on a distributed engine; the closed-form spelling is exact
    "stochasticLinearRegression" -> (_ => throw new UnsupportedOperationException(
      "stochasticLinearRegression's SGD state is row-order dependent; " +
        "use simpleLinearRegression (closed form, order-independent)")),
    "stochasticLogisticRegression" -> (_ => throw new UnsupportedOperationException(
      "stochasticLogisticRegression's SGD state is row-order dependent; " +
        "fit offline and score with the expression language instead")),
    "evalMLMethod" -> (_ => throw new UnsupportedOperationException(
      "evalMLMethod scores a server-side trained state; fit offline and score with " +
        "the expression language (closed-form simpleLinearRegression is exact)")),
    "catboostEvaluate" -> (_ => throw new UnsupportedOperationException(
      "catboostEvaluate needs the native CatBoost library; export the model's " +
        "if-else dump and score with CASE expressions, or score offline")),
    "formatQuery" -> (_ => throw new UnsupportedOperationException(
      "formatQuery pretty-prints CH's own AST; normalizeQuery/normalizeQueryKeepNames " +
        "cover fingerprinting, EXPLAIN covers inspection")),
    "formatQuerySingleLine" -> (_ => throw new UnsupportedOperationException(
      "formatQuerySingleLine pretty-prints CH's own AST; normalizeQuery covers " +
        "fingerprinting, EXPLAIN covers inspection")),
    // bounded-edit-distance regex needs a hyperscan-class engine
    "multiFuzzyMatchAny" -> (_ => throw new UnsupportedOperationException(
      "multiFuzzyMatchAny needs a fuzzy regex engine; use multiMatchAny " +
        "(exact) or ngramDistance/editDistance for fuzzy candidates")),
    "multiFuzzyMatchAnyIndex" -> (_ => throw new UnsupportedOperationException(
      "multiFuzzyMatchAnyIndex needs a fuzzy regex engine; use multiMatchAnyIndex " +
        "(exact) or ngramDistance/editDistance for fuzzy candidates")),
    // -- aggregate combinators. -Distinct forces DISTINCT on the
    // underlying native aggregate; -OrNull yields NULL on an empty
    // set (count is the only family member that needs a shim — the
    // others are already NULL-on-empty in Spark); -OrDefault yields
    // the numeric zero default instead.
    // -If chained onto other combinator families (round 11): the
    // condition NULLs the data argument; the base ignores NULLs
    "sumArrayIf"   -> ifWrapLast("sumArray"),
    "avgArrayIf"   -> ifWrapLast("avgArray"),
    "minArrayIf"   -> ifWrapLast("minArray"),
    "maxArrayIf"   -> ifWrapLast("maxArray"),
    "groupUniqArrayIf" -> ifWrapLast("groupUniqArray"),
    "quantilesIf"  -> ifWrapLast("quantiles"),
    "stddevPopIf"  -> (es => StddevPop(nullIfNot(es(1), es(0)))),
    "stddevSampIf" -> (es => StddevSamp(nullIfNot(es(1), es(0)))),
    "varPopIf"     -> (es => VariancePop(nullIfNot(es(1), es(0)))),
    "varSampIf"    -> (es => VarianceSamp(nullIfNot(es(1), es(0)))),
    "corrIf"       -> (es => Corr(nullIfNot(es(2), es(0)), nullIfNot(es(2), es(1)))),
    "covarPopIf"   -> (es => CovPopulation(nullIfNot(es(2), es(0)), nullIfNot(es(2), es(1)))),
    "covarSampIf"  -> (es => CovSample(nullIfNot(es(2), es(0)), nullIfNot(es(2), es(1)))),
    "sumDistinctIf" -> (es => Sum(nullIfNot(es(1), es(0))).toAggregateExpression(isDistinct = true)),
    "avgDistinctIf" -> (es => Average(nullIfNot(es(1), es(0))).toAggregateExpression(isDistinct = true)),
    "sumDistinct"   -> (es => Sum(es.head).toAggregateExpression(isDistinct = true)),
    "avgDistinct"   -> (es => Average(es.head).toAggregateExpression(isDistinct = true)),
    "countDistinct" -> (es => Count(es).toAggregateExpression(isDistinct = true)),
    "sumOrNull"     -> (es => Sum(es.head)),
    "avgOrNull"     -> (es => Average(es.head)),
    "minOrNull"     -> (es => Min(es.head)),
    "maxOrNull"     -> (es => Max(es.head)),
    "countOrNull"   -> (es => {
      val cnt = Count(if (es.isEmpty) Seq(Literal(1)) else es).toAggregateExpression()
      nullIfNot(GreaterThan(cnt, Literal(0L)), cnt)
    }),
    "sumOrDefault"  -> (es => Coalesce(Seq(Sum(es.head).toAggregateExpression(), Literal(0)))),
    "avgOrDefault"  -> (es => Coalesce(Seq(Average(es.head).toAggregateExpression(), Literal(0)))),
    "minOrDefault"  -> (es => Coalesce(Seq(Min(es.head).toAggregateExpression(), Literal(0)))),
    "maxOrDefault"  -> (es => Coalesce(Seq(Max(es.head).toAggregateExpression(), Literal(0)))),
    // any = first encountered value (ClickHouse's first-value
    // aggregate, NOT Spark's bool_or spelled `any` — migrated CH SQL
    // means the former; shadowing is the dialect's purpose). Same
    // determinism caveat as the anyLast registration above. anyHeavy
    // maps to the native Mode aggregate — a deterministic heavy-hitter
    // when the mode is unique, which is the only case an oracle can
    // pin anyway.
    "any"      -> (es => First(es.head, ignoreNulls = true)),
    // CH's window/aggregate first-value aliases (any/anyLast family)
    "firstValue" -> (es => First(es.head, ignoreNulls = true)),
    "lastValue"  -> (es => Last(es.head, ignoreNulls = true)),
    "anyHeavy" -> (es => Mode(es.head)),
    // -- -ForEach combinator: aggregate element-wise across the
    // group's arrays (result[i] = agg of every array's i-th element).
    // Rides on [[GraftMapAgg]] keyed by 1-based position — positions
    // are contiguous per row, so the sorted key union is dense and the
    // vals array lines up with positions with no fill step. Map-side
    // combine applies; state is bounded by the longest array.
    "sumForEach"   -> (es => forEachVals(enumKeys(es.head), es.head, "sum")),
    "minForEach"   -> (es => forEachVals(enumKeys(es.head), es.head, "min")),
    "maxForEach"   -> (es => forEachVals(enumKeys(es.head), es.head, "max")),
    "countForEach" -> (es => forEachVals(enumKeys(es.head), onesLike(es.head), "sum")),
    "avgForEach"   -> (es => {
      val s = lamVar("gr_fe_s")
      val c = lamVar("gr_fe_c")
      ZipWith(forEachVals(enumKeys(es.head), es.head, "sum"),
              forEachVals(enumKeys(es.head), onesLike(es.head), "sum"),
        LambdaFunction(safeRatio(s, c), Seq(s, c)))
    }),
    // -- -Resample combinator (parametric: countResample(start, end,
    // step)(key), sumResample(…)(x, key), flattened by ChSqlParser):
    // one value per [start, end) bucket, empty buckets as 0 (CH's
    // default-value convention). Keys outside the range are dropped
    // BEFORE aggregation state, so the per-group state is nb entries.
    "countResample" -> (es => resampleAgg(es(0), es(1), es(2), es(3), Literal(1), "sum")),
    "sumResample"   -> (es => resampleAgg(es(0), es(1), es(2), es(4), es(3), "sum")),
    "minResample"   -> (es => resampleAgg(es(0), es(1), es(2), es(4), es(3), "min")),
    "maxResample"   -> (es => resampleAgg(es(0), es(1), es(2), es(4), es(3), "max")),
    "avgResample"   -> (es => {
      val s = lamVar("gr_rs_s")
      val c = lamVar("gr_rs_c")
      ZipWith(resampleAgg(es(0), es(1), es(2), es(4), es(3), "sum"),
              resampleAgg(es(0), es(1), es(2), es(4), Literal(1), "sum"),
        LambdaFunction(safeRatio(s, c), Seq(s, c)))
    }),
    // -- Map data type family. ClickHouse's Map(K, V) is Spark's
    // MapType; every function maps onto the native map expressions
    // (entry order is insertion order on both engines). Lambdas come
    // FIRST in the CH spellings, same convention as the array HOFs.
    "mapFromArrays" -> (es => MapFromArrays(es(0), es(1))),
    "mapKeys"       -> (es => MapKeys(es.head)),
    "mapValues"     -> (es => MapValues(es.head)),
    "mapContains"   -> (es => ArrayContains(MapKeys(es(0)), es(1))),
    "mapContainsKeyLike" -> (es => {
      val k = lamVar("gr_mk")
      ArrayExists(MapKeys(es(0)), LambdaFunction(Like(k, es(1), '\\'), Seq(k)))
    }),
    "mapExtractKeyLike" -> (es => {
      val k = lamVar("gr_mk")
      val v = lamVar("gr_mv")
      MapFilter(es(0), LambdaFunction(Like(k, es(1), '\\'), Seq(k, v)))
    }),
    "mapFilter" -> (es => MapFilter(es(1), es.head)),
    // mapExists/mapAll take a (k, v) predicate: the user lambda binds
    // under ZipWith (a 2-ary HOF) producing the per-entry booleans,
    // and the root HOF folds them — same analyzer-friendly shape as
    // arrayCount.
    "mapExists" -> (es => {
      val x = lamVar("gr_mx")
      ArrayExists(ZipWith(MapKeys(es(1)), MapValues(es(1)), es.head),
        LambdaFunction(x, Seq(x)))
    }),
    "mapAll" -> (es => {
      val x = lamVar("gr_mx")
      ArrayForAll(ZipWith(MapKeys(es(1)), MapValues(es(1)), es.head),
        LambdaFunction(x, Seq(x)))
    }),
    // mapAdd/mapSubtract: element-wise combine over the union of keys
    // (absent keys contribute 0); mapUpdate: right map's value wins.
    // Key order = left map's keys then unseen right keys (ArrayUnion
    // order), deterministic for deterministic inputs.
    "mapAdd"      -> (es => es.reduce(mapMerge(_, _,
      (x, y) => Add(Coalesce(Seq(x, Literal(0))), Coalesce(Seq(y, Literal(0))))))),
    "mapSubtract" -> (es => es.reduce(mapMerge(_, _,
      (x, y) => Subtract(Coalesce(Seq(x, Literal(0))), Coalesce(Seq(y, Literal(0))))))),
    "mapUpdate"   -> (es => mapMerge(es(0), es(1), (x, y) => Coalesce(Seq(y, x)))),
    // native map_concat; duplicate keys follow the session's
    // spark.sql.mapKeyDedupPolicy (EXCEPTION by default — loud,
    // never silently wrong, vs CH's keep-first)
    "mapConcat"   -> (es => MapConcat(es)),
    // mapPopulateSeries(keys, vals[, max]) / mapPopulateSeries(map):
    // dense integer series from min(keys) to max (inclusive, CH
    // semantics), gaps filled with 0 — the counter-map densifier.
    // The two-array form returns the (keys, vals) struct shape sumMap
    // uses; the one-arg MAP form returns a MAP (CH's own split; a
    // map form with an explicit max spells as the two-array form).
    "mapPopulateSeries" -> (es => {
      val mapForm = es.length == 1
      val (keys, vals) =
        if (mapForm) (MapKeys(es.head), MapValues(es.head)) else (es(0), es(1))
      val kmax = Cast(if (es.length > 2) es(2) else ArrayMax(keys), LongType)
      val outKeys = new Sequence(Cast(ArrayMin(keys), LongType), kmax, None)
      val k   = lamVar("gr_ps_k")
      val pos = ArrayPosition(keys, k)
      val v = If(GreaterThan(pos, Literal(0L)),
        ElementAt(vals, Cast(pos, IntegerType), None, failOnError = false), Literal(0))
      val outVals = ArrayTransform(outKeys, LambdaFunction(v, Seq(k)))
      if (mapForm) MapFromArrays(outKeys, outVals)
      else CreateNamedStruct(Seq(Literal("keys"), outKeys, Literal("vals"), outVals))
    }),
    // mapApply((k, v) -> (k2, v2), map) — rebuilt over entries:
    // map_entries → transform (with k/v substituted into the entry
    // struct) → map_from_entries; stays whole-stage-codegen HOFs.
    "mapApply" -> (es => es.head match {
      case LambdaFunction(body, Seq(k, v), _) =>
        val e = lamVar("gr_ma_e")
        val sub = body.transformUp {
          case x if x.fastEquals(k) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal("key"))
          case x if x.fastEquals(v) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal("value"))
        }
        val rekeyed = MapFromEntries(ArrayTransform(MapEntries(es(1)), LambdaFunction(sub, Seq(e))))
        // the analyzer demands the RETURNED expression be a
        // higher-order function when a source argument was a lambda;
        // an identity TransformKeys satisfies it without changing the
        // map (and fuses into the same codegen stage)
        val ik = lamVar("gr_ma_ik")
        val iv = lamVar("gr_ma_iv")
        TransformKeys(rekeyed, LambdaFunction(ik, Seq(ik, iv)))
      case _ => throw new IllegalArgumentException(
        "mapApply takes ((k, v) -> (k2, v2), map)")
    }),
    // -- float guards (CH Float64 semantics; Spark doubles are IEEE754
    // the same way). isNaN needs no shim: Spark's isnan resolves
    // case-insensitively.
    "isFinite" -> (es => {
      val x = Cast(es.head, DoubleType)
      And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity)))
    }),
    "isInfinite" -> (es => {
      val x = Cast(es.head, DoubleType)
      EqualTo(Abs(x), Literal(Double.PositiveInfinity))
    }),
    "ifNotFinite" -> (es => {
      val x = Cast(es.head, DoubleType)
      If(And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity))), x, Cast(es(1), DoubleType))
    }),
    // -- arithmetic spelled as functions (ORM-generated CH code emits
    // these). divide is CH's float division (always Float64; intDiv is
    // the integral form).
    "plus"     -> (es => Add(es(0), es(1))),
    "minus"    -> (es => Subtract(es(0), es(1))),
    "multiply" -> (es => Multiply(es(0), es(1))),
    // CH divide is IEEE Float64: x/0 → ±inf, 0/0 → NaN. Spark's ANSI
    // Divide raises on a zero divisor instead, so the zero branch is
    // computed explicitly (sign(x)·∞ — which is NaN at x=0, exactly
    // IEEE); the guarded Divide never sees a zero.
    "divide"   -> (es => {
      val (a, b) = (Cast(es(0), DoubleType), Cast(es(1), DoubleType))
      If(EqualTo(b, Literal(0.0d)),
        Multiply(Signum(a), Literal(Double.PositiveInfinity)),
        Divide(a, b))
    }),
    "negate"   -> (es => UnaryMinus(es.head)),
    "exp2"     -> (es => Pow(Literal(2.0d), Cast(es.head, DoubleType))),
    "exp10"    -> (es => Pow(Literal(10.0d), Cast(es.head, DoubleType))),
    // -- engine-hint no-ops: LowCardinality is a storage encoding
    // (Spark's dictionary-encoded parquet pages play that role) and
    // materialize defeats constant folding — both are identity here.
    // ignore() evaluates and discards (CH returns 0).
    "toLowCardinality" -> (es => es.head),
    "materialize"      -> (es => es.head),
    "toNullable"       -> (es => es.head),
    "ignore"           -> (_ => Literal(0)),
    // -- dictionary lookups: plant [[DictGetExpr]]/[[DictHasExpr]]
    // placeholders; [[DictGetRewrite]] turns each into a broadcast
    // left-outer join during analysis (see Dictionaries scaladoc).
    // Join-engine lookups: joinGet('t', 'attr', key…) rides the SAME
    // broadcast-join rewrite as dictGet, against the table's
    // ANY-deduped registration (ChCreateJoinTableCommand). joinGet
    // returns the attribute type's default on a miss (CH contract),
    // joinGetOrNull returns NULL
    "joinGet"       -> (es => joinGetExpr(es, orNull = false)),
    "joinGetOrNull" -> (es => joinGetExpr(es, orNull = true)),
    "dictGet" -> (es =>
      DictGetExpr(litString(es(0), "dictGet dict name"),
        litString(es(1), "dictGet attribute"), es(2), None)),
    "dictGetOrDefault" -> (es =>
      DictGetExpr(litString(es(0), "dictGetOrDefault dict name"),
        litString(es(1), "dictGetOrDefault attribute"), es(2), Some(es(3)))),
    "dictHas" -> (es => DictHasExpr(litString(es(0), "dictHas dict name"), es(1))),
    "dictGetHierarchy" -> (es =>
      DictGetHierarchyExpr(litString(es(0), "dictGetHierarchy dict name"), es(1))),
    "dictIsIn" -> (es =>
      DictIsInExpr(litString(es(0), "dictIsIn dict name"), es(1), es(2))),
    "dictGetChildren" -> (es =>
      DictDescendantsExpr(litString(es(0), "dictGetChildren dict name"), es(1), 1)),
    "dictGetDescendants" -> (es => {
      val lvl =
        if (es.length <= 2) 0
        else es(2) match {
          case Literal(i: Int, _)  => i
          case Literal(l: Long, _) => l.toInt
          case other => throw new IllegalArgumentException(
            s"dictGetDescendants level must be an integer literal, got $other")
        }
      DictDescendantsExpr(litString(es(0), "dictGetDescendants dict name"), es(1), lvl)
    }),
  )

  /** The emptyArray<Type>() constructors (typed [] literals; UInt64
    * widens to Long like the rest of the dialect's unsigned story). */
  private def emptyArrayFns: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.types._
    def empty(dt: DataType): Seq[Expression] => Expression =
      _ => Literal.create(Array.empty[Any], ArrayType(dt))
    Seq(
      "emptyArrayUInt8" -> empty(IntegerType), "emptyArrayUInt16" -> empty(IntegerType),
      "emptyArrayUInt32" -> empty(LongType),   "emptyArrayUInt64" -> empty(LongType),
      "emptyArrayInt8"  -> empty(IntegerType), "emptyArrayInt16"  -> empty(IntegerType),
      "emptyArrayInt32" -> empty(IntegerType), "emptyArrayInt64"  -> empty(LongType),
      "emptyArrayFloat32" -> empty(FloatType), "emptyArrayFloat64" -> empty(DoubleType),
      "emptyArrayDate" -> empty(DateType),     "emptyArrayDateTime" -> empty(TimestampType),
      "emptyArrayString" -> empty(StringType))
  }

  /** TRY-mode cast: NULL on malformed input instead of the ANSI
    * error — the OrNull conversion family's core. */
  private def tryCastTo(e: Expression, dt: DataType): Expression =
    Cast(e, dt, None, EvalMode.TRY)

  /** The OrZero/OrDefault combinator: `dflt` only when a NON-NULL
    * input fails to parse; a NULL input propagates as NULL (CH
    * ordinary functions execute under the Nullable wrapper, so
    * toInt32OrZero(NULL) is NULL, not 0 — a Coalesce alone cannot
    * tell "parse failed" from "input was NULL" and fabricates
    * zeros). `input` appears twice in the tree; both occurrences are
    * the same deterministic subtree. */
  private def orZeroOf(input: Expression, parsed: Expression, dflt: Expression): Expression =
    If(IsNull(input), Cast(Literal(null), parsed.dataType),
      Coalesce(Seq(parsed, dflt)))

  /** quantileExactLow/High(q)(x): the discrete nearest-rank selector
    * over the sorted group array — index floor/ceil((n−1)·q), 1-based
    * ElementAt. The CollectList subtree is shared with any other
    * sorted-array aggregate in the same projection by planner dedup. */
  private def exactRankQuantile(es: Seq[Expression], high: Boolean): Expression = {
    val (q, x) = es match {
      case Seq(q0, x0) => (Cast(q0, DoubleType), x0)
      case Seq(x0)     => (Literal(0.5d), x0)
      case _ => throw new IllegalArgumentException("quantileExactLow/High take (level)(expr)")
    }
    val arr  = SortArray(CollectList(x).toAggregateExpression(), Literal(true))
    val nm1  = Cast(Subtract(Size(arr), Literal(1)), DoubleType)
    val idx0 = if (high) Ceil(Multiply(q, nm1)) else Floor(Multiply(q, nm1))
    ElementAt(arr, Cast(Add(idx0, Literal(1L)), IntegerType), None, failOnError = false)
  }

  /** get_json_object with a ClickHouse-style path: each trailing arg
    * is a key (string) or 1-based array index (integer literal);
    * non-literal args concatenate as dynamic keys. */
  private def jsonGet(es: Seq[Expression]): Expression = {
    val parts: Seq[Expression] = es.tail.map {
      case Literal(i: Int, IntegerType) => Literal(s"[${i - 1}]")
      case Literal(l: Long, LongType)   => Literal(s"[${l - 1}]")
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => Literal("." + s.toString)
      case e => Concat(Seq(Literal("."), e))
    }
    GetJsonObject(es.head, Concat(Literal("$") +: parts))
  }

  /** Split on runs matching `pattern`, empty fragments dropped — the
    * splitByAlpha/splitByNonAlpha[UTF8] builder. */
  private def splitByPattern(s: Expression, pattern: String): Expression = {
    val p = lamVar("gr_sp_frag")
    ArrayFilter(StringSplit(s, Literal(pattern), Literal(-1)),
      LambdaFunction(GreaterThan(Length(p), Literal(0)), Seq(p)))
  }

  /** Literal-stripping query normalization shared by the
    * normalizeQuery/normalizedQueryHash family. */
  private def normalizeQueryExpr(q: Expression): Expression =
    RegExpReplace(RegExpReplace(q,
      Literal("'[^']*'"), Literal("?")),
      Literal("\\b\\d+(\\.\\d+)?\\b"), Literal("?"))

  /** Distinct-character Jaccard (stringJaccardIndex[UTF8]); split("")
    * is already codepoint-wise on Spark strings. */
  private def stringJaccardExpr(es: Seq[Expression]): Expression = {
    def chars(e: Expression) = ArrayDistinct(StringSplit(e, Literal(""), Literal(-1)))
    val (a, b) = (chars(es(0)), chars(es(1)))
    val inter = Cast(Size(ArrayIntersect(a, b)), DoubleType)
    val union = Cast(Size(ArrayUnion(a, b)), DoubleType)
    If(EqualTo(union, Literal(0.0d)), Literal(1.0d), Divide(inter, union))
  }

  /** CH scalar type name → Spark type (the CAST-name convention
    * ChSqlParser applies textually, here for expression-level use). */
  private def chScalarType(name: String): DataType = name match {
    case "String" | "FixedString" => org.apache.spark.sql.types.StringType
    case "Int64" | "Int32" | "Int16" | "Int8" |
         "UInt64" | "UInt32" | "UInt16" | "UInt8" => LongType
    case "Float64" | "Float32" => DoubleType
    case "Bool" => org.apache.spark.sql.types.BooleanType
    case "Date" => DateType
    case "DateTime" | "DateTime64" => TimestampType
    case other => throw new IllegalArgumentException(
      s"unsupported ClickHouse scalar type name '$other'")
  }

  /** Token-bounded needle search: CH tokens are [A-Za-z0-9_] runs, so
    * the needle must sit between non-token characters (or ends). The
    * needle escapes through the regexpQuoteMeta composition, so
    * dynamic needles are safe. */
  /** multiplyDecimal/divideDecimal: exact arithmetic TRUNCATED (not
    * rounded) at the result scale — the explicit third argument or
    * (CH's default) the larger of the two input scales — via
    * [[graft.plans.DecimalOpTrunc]]: Spark's own decimal Multiply/
    * Divide + Cast both rounds HALF_UP and caps division's
    * intermediate scale near 6 under the precision-loss rules, so
    * divideDecimal(2,3,1) came out 0.7 (CH: 0.6) and
    * divideDecimal(1,3,10) zero-padded past 6 digits. Non-decimal
    * inputs enter at their literal scale (or 10 for non-decimal
    * columns, the historical default). */
  private def decimalArith(es: Seq[Expression], name: String): Expression = {
    require(es.length == 2 || es.length == 3, s"$name takes (a, b[, result_scale])")
    def scaleOf(e: Expression): Int = e.dataType match {
      case d: org.apache.spark.sql.types.DecimalType => d.scale
      case _ => 10
    }
    val outScale =
      if (es.length == 3) litInt(es(2), s"$name result scale")
      else math.max(scaleOf(es(0)), scaleOf(es(1)))
    def asDecimal(e: Expression): Expression = e.dataType match {
      case _: org.apache.spark.sql.types.DecimalType => e
      case _ => Cast(e, org.apache.spark.sql.types.DecimalType(38, scaleOf(e)))
    }
    DecimalOpTrunc(asDecimal(es(0)), asDecimal(es(1)), outScale,
      isMultiply = name == "multiplyDecimal")
  }

  /** addTupleOfIntervals/subtractTupleOfIntervals: the interval tuple
    * must be a literal tuple(…) so its fields unfold at plan time. */
  private def tupleIntervalFold(es: Seq[Expression], negate: Boolean): Expression = {
    val name = if (negate) "subtractTupleOfIntervals" else "addTupleOfIntervals"
    require(es.length == 2, s"$name takes (date, tuple(interval, …))")
    val intervals = es(1) match {
      case ns: CreateNamedStruct => ns.valExprs
      case _ => throw new IllegalArgumentException(
        s"$name needs an explicit tuple(toIntervalDay(…), …) second argument")
    }
    intervals.foldLeft(es.head) { (d, iv) =>
      if (negate) Subtract(d, iv) else Add(d, iv)
    }
  }

  /** `joinGet('table', 'value_col', key[, key …])` — resolves the
    * Join-engine registration and plants the dictionary lookup
    * placeholder; composite keys travel as a tuple so the rewrite
    * joins every key column. The `db.table` spelling resolves the
    * full name first, then the bare table name. */
  private def joinGetExpr(es: Seq[Expression], orNull: Boolean): Expression = {
    import graft.operators.Dictionaries
    val fname = if (orNull) "joinGetOrNull" else "joinGet"
    require(es.length >= 3, s"$fname takes (table, value_column, key[, key …])")
    val rawName = litString(es(0), s"$fname table")
    val attr = litString(es(1), s"$fname value column")
    val (table, meta) = Dictionaries.joinTableMeta(rawName).map((rawName, _))
      .orElse {
        val bare = rawName.substring(rawName.lastIndexOf('.') + 1)
        Dictionaries.joinTableMeta(bare).map((bare, _))
      }
      .getOrElse(throw new UnsupportedOperationException(
        s"$fname: '$rawName' is not a registered Join-engine table — " +
          "CREATE TABLE … ENGINE = Join(ANY, LEFT, key) first"))
    val (strictness, kind, keys) = meta
    if (!strictness.equalsIgnoreCase("ANY") || !kind.equalsIgnoreCase("LEFT"))
      throw new UnsupportedOperationException(
        s"$fname works with ANY LEFT JOIN tables (ClickHouse's contract); " +
          s"'$table' is Join($strictness, $kind, …)")
    val keyArgs = es.drop(2)
    require(keyArgs.length == keys.length,
      s"$fname: '$table' joins on ${keys.length} key column(s) (${keys.mkString(", ")}), " +
        s"got ${keyArgs.length} key argument(s)")
    val key = if (keyArgs.length == 1) keyArgs.head else CreateStruct(keyArgs)
    val dictName = Dictionaries.joinDictName(table)
    val default =
      if (orNull) None
      else Some(defaultValueOf(Dictionaries.get(dictName).attrType(attr)))
    DictGetExpr(dictName, attr, key, default)
  }

  /** The type's zero value (defaultValueOfArgumentType /
    * defaultValueOfTypeName): numerics 0, strings '', BOOLEAN false,
    * DATE/TIMESTAMP the epoch, arrays [] — anything else NULL of the
    * type (ClickHouse's Nullable default). */
  private def defaultValueOf(dt: DataType): Expression = dt match {
    case t: NumericType => Cast(Literal(0), t)
    case StringType     => Literal("")
    case BooleanType    => Literal(false)
    case DateType       => Literal.create(0, DateType)
    case TimestampType  => MicrosToTimestamp(Literal(0L))
    case ArrayType(et, n) => Literal.create(Seq.empty[Any], ArrayType(et, n))
    case other          => Literal.create(null, other)
  }

  /** formatRow's per-field text for the three formats that need no
    * column names. CSV always quotes strings (doubling inner quotes);
    * TSV backslash-escapes tab/newline/backslash; Values
    * single-quotes strings with backslash escaping. Non-strings print
    * via CAST in every format. */
  private def formatRowField(e: Expression, fmt: String): Expression = e.dataType match {
    case StringType =>
      val bs = Literal("\\\\")
      fmt match {
        case "CSV" => Concat(Seq(Literal("\""),
          StringReplace(e, Literal("\""), Literal("\"\"")), Literal("\"")))
        case "TSV" => StringReplace(StringReplace(StringReplace(
          e, Literal("\\"), bs), Literal("\t"), Literal("\\t")), Literal("\n"), Literal("\\n"))
        case _ => Concat(Seq(Literal("'"), StringReplace(StringReplace(
          e, Literal("\\"), bs), Literal("'"), Literal("\\'")), Literal("'")))
      }
    case _ => Cast(e, StringType)
  }

  private def formatRowExpr(es: Seq[Expression], newline: Boolean): Expression = {
    val name = if (newline) "formatRow" else "formatRowNoNewline"
    val fmt = litString(es.head, s"$name format")
    val cols = es.tail
    require(cols.nonEmpty, s"$name needs at least one value argument")
    val body = fmt match {
      case "CSV" => Concat(cols.map(formatRowField(_, "CSV"))
        .flatMap(c => Seq(Literal(","), c)).tail)
      case "TSV" | "TabSeparated" => Concat(cols.map(formatRowField(_, "TSV"))
        .flatMap(c => Seq(Literal("\t"), c)).tail)
      case "Values" => Concat(Seq(Literal("(")) ++ cols.map(formatRowField(_, "Values"))
        .flatMap(c => Seq(Literal(","), c)).tail ++ Seq(Literal(")")))
      case "JSONEachRow" => throw new UnsupportedOperationException(
        s"$name('JSONEachRow', …) needs column names the expression arguments do not carry: " +
          "use toJSONString(tuple(…)) / to_json(named_struct(…)) to name the fields explicitly")
      case other => throw new UnsupportedOperationException(
        s"$name: format '$other' is not supported — CSV, TSV and Values are")
    }
    if (newline) Concat(Seq(body, Literal("\n"))) else body
  }

  private def hasTokenExpr(hay: Expression, needle: Expression): Expression = {
    val quoted = RegExpReplace(needle,
      Literal("([\\\\|()^$.\\[\\]?*+{:-])"), Literal("\\\\$1"))
    RLike(hay, Concat(Seq(
      Literal("(?:^|[^A-Za-z0-9_])"), quoted, Literal("(?:$|[^A-Za-z0-9_])"))))
  }

  /** MySQL week mode 0: Sunday-start weeks, week 0 before the year's
    * first Sunday. */
  private def week0(d: Expression): Expression = {
    val jan1 = TruncDate(d, Literal("year"))
    // WeekDay: Monday = 0 … Sunday = 6 → Sunday-based index
    val wd0 = Pmod(Add(WeekDay(jan1), Literal(1)), Literal(7))
    val firstSunday = DateAdd(jan1, Pmod(Subtract(Literal(7), wd0), Literal(7)))
    If(LessThan(d, firstSunday), Literal(0),
      Add(Cast(new IntegralDivide(Cast(DateDiff(d, firstSunday), LongType),
        Literal(7L)), IntegerType), Literal(1)))
  }

  private def weekMode(es: Seq[Expression]): Int =
    if (es.length < 2) 0 else es(1) match {
      case Literal(i: Int, _)  => i
      case Literal(l: Long, _) => l.toInt
      case other => throw new IllegalArgumentException(
        s"week mode must be an integer literal, got $other")
    }

  /** make_timestamp with field `idx` (y mo d h mi s) replaced. The
    * seconds carry their sub-second fraction (Pmod keeps pre-epoch
    * values positive) — except when the seconds field itself is the
    * one being set, where the new integer value replaces fraction and
    * all. */
  private def changeField(es: Seq[Expression], idx: Int): Expression = {
    val t = Cast(es(0), TimestampType)
    val fracSeconds = Divide(
      Cast(Pmod(UnixMicros(t), Literal(60000000L)), DoubleType), Literal(1e6))
    val fields: Seq[Expression] = Seq(
      Year(t), Month(t), DayOfMonth(t), Hour(t), Minute(t), fracSeconds)
      .updated(idx, Cast(es(1), IntegerType))
    MakeTimestamp(
      fields(0), fields(1), fields(2), fields(3), fields(4),
      Cast(fields(5), org.apache.spark.sql.types.DecimalType(16, 6)))
  }

  /** A MakeInterval carrying n in the named CH unit's slot. */
  private def chUnitInterval(unit: String, n: Expression): Expression = {
    val z = Literal(0)
    val zs = Cast(Literal(0), org.apache.spark.sql.types.DecimalType(18, 6))
    unit.toLowerCase match {
      case "year"    => MakeInterval(n, z, z, z, z, z, zs)
      case "quarter" => MakeInterval(z, Multiply(n, Literal(3)), z, z, z, z, zs)
      case "month"   => MakeInterval(z, n, z, z, z, z, zs)
      case "week"    => MakeInterval(z, z, n, z, z, z, zs)
      case "day"     => MakeInterval(z, z, z, n, z, z, zs)
      case "hour"    => MakeInterval(z, z, z, z, n, z, zs)
      case "minute"  => MakeInterval(z, z, z, z, z, n, zs)
      case "second"  => MakeInterval(z, z, z, z, z, z,
        Cast(n, org.apache.spark.sql.types.DecimalType(18, 6)))
      case u => throw new IllegalArgumentException(s"unsupported interval unit '$u'")
    }
  }

  /** Interpolated (Percentile-INC) quantile of an already-sorted
    * double array: h = 1 + p(n−1), linear interpolation. */
  private def percentileIncOfArray(a: Expression, p: Expression): Expression = {
    val n = Size(a)
    val h = Add(Literal(1.0d),
      Multiply(Cast(p, DoubleType), Cast(Subtract(n, Literal(1)), DoubleType)))
    val lo = Cast(Floor(h), IntegerType)
    def at(i: Expression) =
      Cast(ElementAt(a, i, None, failOnError = false), DoubleType)
    val interp = Add(at(lo),
      Multiply(Subtract(h, Cast(lo, DoubleType)),
        Subtract(at(Add(lo, Literal(1))), at(lo))))
    If(LessThanOrEqual(n, Literal(0)), Literal.create(null, DoubleType),
      If(GreaterThanOrEqual(lo, n), at(n), interp))
  }

  /** Excel PERCENTILE.EXC over the group's sorted values: h = p(n+1),
    * ends clamped, linear interpolation between neighbors. Pure
    * aggregate algebra over one sorted collect. */
  private def percentileExc(p: Expression, x: Expression): Expression = {
    val a = new SortArray(CollectList(Cast(x, DoubleType)).toAggregateExpression())
    val n = Size(a)
    val h = Multiply(Cast(p, DoubleType), Cast(Add(n, Literal(1)), DoubleType))
    val lo = Cast(Floor(h), IntegerType)
    def at(i: Expression) = ElementAt(a, i, None, failOnError = false)
    val interp = Add(at(lo),
      Multiply(Subtract(h, Cast(lo, DoubleType)),
        Subtract(at(Add(lo, Literal(1))), at(lo))))
    If(LessThanOrEqual(n, Literal(0)), Literal.create(null, DoubleType),
      If(LessThanOrEqual(h, Literal(1.0d)), at(Literal(1)),
        If(GreaterThanOrEqual(h, Cast(n, DoubleType)), at(n), interp)))
  }

  /** Zero-slice fold whose ZERO carries `value`: satisfies the
    * analyzer's HOF-at-root requirement for compositions over a
    * user-written lambda (the arrayFirst pattern). */
  private def hofVeneer(arr: Expression, value: Expression): Expression = {
    val acc = lamVar("gr_vn_acc")
    val x   = lamVar("gr_vn_x")
    ArrayAggregate(Slice(arr, Literal(1), Literal(0)), value,
      LambdaFunction(acc, Seq(acc, x)), LambdaFunction.identity)
  }

  /** The user lambda of the arrayFill/arraySplit family applied to
    * its array argument(s), directly under a HOF root (1-array form →
    * ArrayTransform, 2-array form → ZipWith) — yields the flag
    * array the pure slicing/folding logic consumes. */
  private def hofFlags(es: Seq[Expression]): Expression = es.length match {
    case 2 => ArrayTransform(es(1), es.head)
    case 3 => ZipWith(es(1), es(2), es.head)
    case _ => throw new IllegalArgumentException(
      "array fill/split functions take (lambda, arr[, arr2])")
  }

  /** [1..n] as an Int array; safe at n ≤ 0 (a bare Sequence(1, 0)
    * would count DOWN — the Slice drops the 0 anchor instead). */
  private def oneToN(n: Expression): Expression =
    Slice(new Sequence(Literal(0), Greatest(Seq(n, Literal(0))), None), Literal(2), n)

  /** Forward fill: element i keeps itself when its flag holds (or it
    * is the first element — nothing precedes), else takes the last
    * written value. An explicit `seen` flag distinguishes "first
    * element" from "previous written value was NULL" — a passing NULL
    * must still fill forward. One struct-accumulator fold — O(n). */
  private def fillForward(arr: Expression, flags: Expression): Expression = {
    val xv = lamVar("gr_ff_x")
    val fv = lamVar("gr_ff_f")
    val pairs = ZipWith(arr, flags, LambdaFunction(
      CreateNamedStruct(Seq(Literal("x"), xv, Literal("f"), fv)), Seq(xv, fv)))
    val acc = lamVar("gr_ff_acc")
    val p   = lamVar("gr_ff_p")
    def fld(e: Expression, n: String) =
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal(n))
    val keep = Or(Cast(fld(p, "f"), org.apache.spark.sql.types.BooleanType),
      Not(Cast(fld(acc, "seen"), org.apache.spark.sql.types.BooleanType)))
    val v    = If(keep, fld(p, "x"), fld(acc, "prev"))
    ArrayAggregate(pairs,
      CreateNamedStruct(Seq(
        Literal("res"), Slice(arr, Literal(1), Literal(0)),
        Literal("prev"), GetArrayItem(arr, Literal(Int.MaxValue), failOnError = false),
        Literal("seen"), Literal(false))),
      LambdaFunction(CreateNamedStruct(Seq(
        Literal("res"), Concat(Seq(fld(acc, "res"), CreateArray(Seq(v)))),
        Literal("prev"), v,
        Literal("seen"), Literal(true))), Seq(acc, p)),
      LambdaFunction(fld(acc, "res"), Seq(acc)))
  }

  /** Slice arr into consecutive runs opening at 1 and at each cut
    * position (1-based, ascending). Empty input → empty output. */
  private def sliceByCuts(arr: Expression, cuts: Expression): Expression = {
    val n = Size(arr)
    val starts = Concat(Seq(CreateArray(Seq(Literal(1))), cuts))
    val k = Size(starts)
    val j = lamVar("gr_sc_j")
    val start = ElementAt(starts, j, None, failOnError = false)
    val end = If(LessThan(j, k),
      ElementAt(starts, Add(j, Literal(1)), None, failOnError = false),
      Add(n, Literal(1)))
    val out = ArrayTransform(oneToN(k),
      LambdaFunction(Slice(arr, start, Subtract(end, start)), Seq(j)))
    If(LessThanOrEqual(n, Literal(0)), Slice(out, Literal(1), Literal(0)), out)
  }

  /** s/c in doubles with NaN at c = 0 (CH's avg-of-nothing) — ANSI
    * Divide would raise instead. */
  private def safeRatio(s: Expression, c: Expression): Expression =
    If(EqualTo(Cast(c, DoubleType), Literal(0.0d)), Literal(Double.NaN),
      Divide(Cast(s, DoubleType), Cast(c, DoubleType)))

  /** 1-based positions of an array's elements (empty-safe — Sequence
    * would count DOWN from 1 to 0). */
  private def enumKeys(arr: Expression): Expression =
    If(LessThanOrEqual(Size(arr), Literal(0)),
      Literal.create(Array.empty[Int], org.apache.spark.sql.types.ArrayType(IntegerType)),
      new Sequence(Literal(1), Size(arr), None))

  /** 1 where the element is non-null, null where it is (so countForEach
    * counts only present elements, the CH convention). */
  private def onesLike(arr: Expression): Expression = {
    val x = lamVar("gr_fe_x")
    ArrayTransform(arr,
      LambdaFunction(If(IsNull(x), Literal.create(null, IntegerType), Literal(1)), Seq(x)))
  }

  /** The vals array of a [[GraftMapAgg]] over (keys, vals) — the
    * -ForEach combinator core. Identical aggregate subtrees reused by
    * a caller (avgForEach's sum + count) are deduplicated by the
    * aggregate planner. */
  private def forEachVals(keys: Expression, vals: Expression, op: String): Expression =
    org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
      GraftMapAgg(keys, vals, op).toAggregateExpression(), Literal("vals"))

  /** -Resample core: bucket the resampling key into [start, end) steps
    * (out-of-range rows contribute nothing), combine per bucket via
    * [[GraftMapAgg]], then densify onto the 0..nb-1 bucket axis with
    * zero fill. */
  private def resampleAgg(start: Expression, end: Expression, step: Expression,
                          key: Expression, value: Expression, op: String): Expression = {
    val kl = Cast(key, LongType)
    val s  = Cast(start, LongType)
    val e  = Cast(end, LongType)
    val st = Cast(step, LongType)
    val bucket = nullIfNot(And(GreaterThanOrEqual(kl, s), LessThan(kl, e)),
      new IntegralDivide(Subtract(kl, s), st))
    val m = GraftMapAgg(CreateArray(Seq(bucket)), CreateArray(Seq(value)), op).toAggregateExpression()
    def field(n: String) =
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(m, Literal(n))
    val nb = Cast(Ceil(Divide(Cast(Subtract(e, s), DoubleType), Cast(st, DoubleType))), LongType)
    val i   = lamVar("gr_rs_i")
    val pos = ArrayPosition(field("keys"), i)
    ArrayTransform(new Sequence(Literal(0L), Subtract(nb, Literal(1L)), None),
      LambdaFunction(If(GreaterThan(pos, Literal(0L)),
        ElementAt(field("vals"), Cast(pos, IntegerType), None, failOnError = false),
        Literal(0)), Seq(i)))
  }

  /** sumMap/minMap/maxMap over (keys, values) arrays or a single
    * Map-typed argument (unpacked to its key/value arrays). */
  private def mapAggOf(es: Seq[Expression], op: String): Expression = es match {
    case Seq(m)     => GraftMapAgg(MapKeys(m), MapValues(m), op)
    case Seq(k, v)  => GraftMapAgg(k, v, op)
    case _ => throw new IllegalArgumentException(s"${op}Map takes (keys, values) or (map)")
  }

  /** Element-wise merge of two maps over the union of their keys —
    * mapAdd/mapSubtract/mapUpdate. Absent keys surface as NULL to `f`
    * (ElementAt with failOnError = false), which each caller folds
    * with its own identity. */
  private def mapMerge(a: Expression, b: Expression,
                       f: (Expression, Expression) => Expression): Expression = {
    val k = lamVar("gr_mm_k")
    val keys = ArrayUnion(MapKeys(a), MapKeys(b))
    def get(m: Expression) = ElementAt(m, k, None, failOnError = false)
    MapFromArrays(keys,
      ArrayTransform(keys, LambdaFunction(f(get(a), get(b)), Seq(k))))
  }

  /** Day-time interval literal → width in microseconds (the tumble/
    * hop family's allowed window grain). */
  private def intervalMicros(e: Expression, fn: String): Long = (e.dataType, e.eval()) match {
    case (_: org.apache.spark.sql.types.DayTimeIntervalType, us: java.lang.Long) => us.longValue()
    case (org.apache.spark.sql.types.CalendarIntervalType, ci: CalendarInterval)
        if ci.months == 0 => ci.days * 86400000000L + ci.microseconds
    case (_, other) => throw new IllegalArgumentException(
      s"$fn expects a day-time INTERVAL literal, got $other")
  }

  /** Floor a timestamp to a w-microsecond grid. */
  private def windowFloor(t: Expression, w: Long): Expression = {
    require(w > 0, "window width must be positive")
    val us = UnixMicros(Cast(t, TimestampType))
    MicrosToTimestamp(Subtract(us, Pmod(us, Literal(w))))
  }

  /** Stable for the life of this JVM — the serverUUID contract. */
  private val SessionUuid: String = java.util.UUID.randomUUID().toString

  /** JVM start instant, for uptime(). */
  private val JvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** n random printable-ASCII chars (space..tilde), fresh seed per
    * call site; one Rand draw per character via array transform. */
  private def randPrintable(n: Expression): Expression = {
    val i = lamVar("gr_rp_i")
    val ch = Chr(Add(Literal(32L),
      Cast(Multiply(new Rand(Literal(scala.util.Random.nextLong())), Literal(95.0d)), LongType)))
    ArrayJoin(ArrayTransform(oneToN(Cast(n, IntegerType)), LambdaFunction(ch, Seq(i))),
      Literal(""), None)
  }

  /** Element-wise arithmetic over two array-encoded tuples, double
    * precision (the tuplePlus family). */
  private def tupleZip(a: Expression, b: Expression,
                       f: (Expression, Expression) => Expression): Expression = {
    val x = lamVar("gr_tz_x")
    val y = lamVar("gr_tz_y")
    ZipWith(a, b, LambdaFunction(f(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: Int, _)  => i
    case Literal(l: Long, _) => l.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def isStringLiteral(e: Expression): Boolean = e match {
    case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => true
    case _ => false
  }

  /** A windowFunnel mode flag if the expression is one of the known
    * mode string literals (the leading args after the window). */
  private def funnelModeOf(e: Expression): Option[String] = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _)
      if Set("strict_order", "strict_dedup", "strict_increase")(s.toString) => Some(s.toString)
    case _ => None
  }

  /** Sample skewness (order 3) / kurtosis (order 4): central moments
    * with the n−1 divisor over the sample stddev's matching power —
    * CH skewSamp = m3ₛ/s³, kurtSamp = m4ₛ/s⁴ (not excess). Same
    * one-pass raw-power-sum construction as [[momentRatio]]. */
  private def sampMomentRatio(x: Expression, order: Int): Expression = {
    val xd = Cast(x, DoubleType)
    def powSum(k: Int): Expression =
      Sum(Seq.fill(k)(xd: Expression).reduce(Multiply(_, _))).toAggregateExpression()
    val n  = Cast(Count(Seq(xd)).toAggregateExpression(), DoubleType)
    val mu = Divide(powSum(1), n)
    def raw(k: Int) = Divide(powSum(k), n) // E[x^k]
    val nOverNm1 = Divide(n, Subtract(n, Literal(1.0d)))
    val varS = Multiply(nOverNm1, Subtract(raw(2), Multiply(mu, mu)))
    if (order == 3) {
      val m3c = Multiply(nOverNm1,
        Add(Subtract(raw(3), Multiply(Literal(3.0d), Multiply(mu, raw(2)))),
          Multiply(Literal(2.0d), Multiply(mu, Multiply(mu, mu)))))
      Divide(m3c, Pow(varS, Literal(1.5d)))
    } else {
      val mu2 = Multiply(mu, mu)
      val m4c = Multiply(nOverNm1, Subtract(
        Add(Subtract(raw(4), Multiply(Literal(4.0d), Multiply(mu, raw(3)))),
          Multiply(Literal(6.0d), Multiply(mu2, raw(2)))),
        Multiply(Literal(3.0d), Multiply(mu2, mu2))))
      Divide(m4c, Multiply(varS, varS))
    }
  }

  /** ClickHouse component functions return '' where Spark yields NULL. */
  private def coalesceEmpty(e: Expression): Expression = Coalesce(Seq(e, Literal("")))

  /** Population skewness (order 3) / kurtosis (order 4) from raw power
    * sums: one aggregation pass; semantically CH skewPop/kurtPop
    * (kurtPop is m4/m2², NOT excess kurtosis). */
  private def momentRatio(x: Expression, order: Int): Expression = {
    val xd = Cast(x, DoubleType)
    def powSum(k: Int): Expression =
      Sum(Seq.fill(k)(xd: Expression).reduce(Multiply(_, _))).toAggregateExpression()
    val n  = Cast(Count(Seq(xd)).toAggregateExpression(), DoubleType)
    val mu = Divide(powSum(1), n)
    def raw(k: Int) = Divide(powSum(k), n) // E[x^k]
    val m2 = Subtract(raw(2), Multiply(mu, mu))
    if (order == 3) {
      val m3 = Add(Subtract(raw(3), Multiply(Literal(3.0d), Multiply(mu, raw(2)))),
        Multiply(Literal(2.0d), Multiply(mu, Multiply(mu, mu))))
      Divide(m3, Pow(m2, Literal(1.5d)))
    } else {
      val mu2 = Multiply(mu, mu)
      val m4 = Subtract(
        Add(Subtract(raw(4), Multiply(Literal(4.0d), Multiply(mu, raw(3)))),
          Multiply(Literal(6.0d), Multiply(mu2, raw(2)))),
        Multiply(Literal(3.0d), Multiply(mu2, mu2)))
      Divide(m4, Multiply(m2, m2))
    }
  }

  /** 4-gram character windows of a string: substring windows joined
    * into an array; strings shorter than 4 chars are their own single
    * gram (empty string → empty array). */
  private def charGrams(s: Expression): Expression = {
    val i = lamVar("gr_gi")
    CaseWhen(Seq(
      (EqualTo(Length(s), Literal(0)), Literal.create(Array.empty[String], org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))),
      (LessThan(Length(s), Literal(4)), CreateArray(Seq(s)))),
      ArrayTransform(new Sequence(Literal(1), Subtract(Length(s), Literal(3))),
        LambdaFunction(Substring(s, i, Literal(4)), Seq(i))))
  }

  /** Multiset 4-gram distance: (|A| + |B| − 2·matched) / (|A| + |B|),
    * matched = Σ_g min(count_A(g), count_B(g)) over distinct grams —
    * 0 for identical strings, 1 for disjoint gram sets. */
  private def ngramDistanceExpr(a: Expression, b: Expression): Expression = {
    val ga = charGrams(a)
    val gb = charGrams(b)
    val acc = lamVar("gr_nd_acc")
    val g   = lamVar("gr_nd_g")
    val x   = lamVar("gr_nd_x")
    def countOf(arr: Expression, needle: Expression) =
      Size(ArrayFilter(arr, LambdaFunction(EqualTo(x, needle), Seq(x))))
    val matched = ArrayAggregate(
      ArrayDistinct(Concat(Seq(ga, gb))), Literal(0),
      LambdaFunction(Add(acc, Least(Seq(countOf(ga, g), countOf(gb, g)))), Seq(acc, g)),
      LambdaFunction.identity)
    val total = Add(Size(ga), Size(gb))
    If(EqualTo(total, Literal(0)), Literal(0.0d),
      Divide(Cast(Subtract(total, Multiply(Literal(2), matched)), DoubleType),
             Cast(total, DoubleType)))
  }

  /** ngramSearch: Σ_g min(count_h(g), count_n(g)) / |grams(needle)| —
    * 1 when every needle gram appears in the haystack, 0 when none do. */
  private def ngramSearchExpr(h: Expression, needle: Expression): Expression = {
    val gh = charGrams(h)
    val gn = charGrams(needle)
    val acc = lamVar("gr_ns_acc")
    val g   = lamVar("gr_ns_g")
    val x   = lamVar("gr_ns_x")
    def countOf(arr: Expression, n: Expression) =
      Size(ArrayFilter(arr, LambdaFunction(EqualTo(x, n), Seq(x))))
    val matched = ArrayAggregate(
      ArrayDistinct(gn), Literal(0),
      LambdaFunction(Add(acc, Least(Seq(countOf(gh, g), countOf(gn, g)))), Seq(acc, g)),
      LambdaFunction.identity)
    If(EqualTo(Size(gn), Literal(0)), Literal(1.0d),
      Divide(Cast(matched, DoubleType), Cast(Size(gn), DoubleType)))
  }

  /** parseReadableSize kernel: regex-split '<num> <unit>', CaseWhen
    * over the unit table (KiB=1024ⁱ, KB=1000ⁱ), ceil to whole bytes.
    * onBad: "raise" | "null" | "zero" for malformed input. */
  private def parseReadableSizeExpr(in: Expression, onBad: String): Expression = {
    val pat = Literal("^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*([A-Za-z]+)\\s*$")
    val numS = RegExpExtract(in, pat, Literal(1))
    val unit = Lower(RegExpExtract(in, pat, Literal(2)))
    val binary = Seq("b", "kib", "mib", "gib", "tib", "pib", "eib")
    val si     = Seq("kb", "mb", "gb", "tb", "pb", "eb")
    val branches =
      binary.zipWithIndex.map { case (u, i) =>
        (EqualTo(unit, Literal(u)), Literal(math.pow(1024.0, i.toDouble)): Expression) } ++
      si.zipWithIndex.map { case (u, i) =>
        (EqualTo(unit, Literal(u)), Literal(math.pow(1000.0, i + 1.0)): Expression) }
    val mult = CaseWhen(branches, None) // null on unknown unit
    // no-match extract yields '' — TRY cast turns it into null
    // instead of an ANSI error so the OrNull/OrZero contracts hold
    val num = Cast(numS, DoubleType, None, EvalMode.TRY)
    val value = Multiply(num, mult) // null if either side is bad
    val bytes = Cast(Ceil(value), LongType)
    onBad match {
      case "null" => bytes
      case "zero" => orZeroOf(in, bytes, Literal(0L))
      case _ => If(IsNull(in), Literal.create(null, LongType),
        If(IsNull(bytes),
          Cast(RaiseError(Concat(Seq(Literal("parseReadableSize: cannot parse '"), in,
            Literal("'")))), LongType),
          bytes))
    }
  }

  private def lowerAll(arr: Expression): Expression = {
    val v = lamVar("gr_low")
    ArrayTransform(arr, LambdaFunction(Lower(v), Seq(v)))
  }

  /** Leftmost match position over a needle array (0 if none). */
  private def multiSearchFirstPositionExpr(h: Expression, needles: Expression): Expression = {
    val n = lamVar("gr_fp_n")
    val p = lamVar("gr_fp_p")
    val positions = ArrayTransform(needles, LambdaFunction(new StringLocate(n, h), Seq(n)))
    Coalesce(Seq(
      ArrayMin(ArrayFilter(positions, LambdaFunction(GreaterThan(p, Literal(0)), Seq(p)))),
      Literal(0)))
  }

  /** 1-based index of the needle with the leftmost match — ties break
    * toward the earlier needle because array_position finds the first
    * occurrence of the minimum. 0 if nothing matches. */
  private def multiSearchFirstIndexExpr(h: Expression, needles: Expression): Expression = {
    val n = lamVar("gr_fi_n")
    val p = lamVar("gr_fi_p")
    val positions = ArrayTransform(needles, LambdaFunction(new StringLocate(n, h), Seq(n)))
    val minPos = ArrayMin(ArrayFilter(positions,
      LambdaFunction(GreaterThan(p, Literal(0)), Seq(p))))
    If(IsNull(minPos), Literal(0L),
      Cast(ArrayPosition(positions, minPos), LongType))
  }

  /** Capture-group count of a literal regex (extractGroups' counting
    * rule: parens minus escaped and non-capturing ones). */
  private def literalGroupCount(pat: Expression, fn: String): Int = {
    val p = litString(pat, s"$fn pattern")
    val n = p.replace("\\(", "").replace("(?:", "").count(_ == '(')
    require(n > 0, s"$fn needs at least one capturing group")
    n
  }

  /** Epoch-second bucket of width `w` seconds, back as a timestamp —
    * toStartOfFiveMinutes-family arithmetic. */
  private def secondBucket(ts: Expression, w: Long): Expression = {
    val secs = Cast(Cast(ts, TimestampType), LongType)
    SecondsToTimestamp(Multiply(new IntegralDivide(secs, Literal(w)), Literal(w)))
  }

  /** groupArrayMovingSum/Avg: transform-with-index over the sorted
    * group array; each position folds its own slice [max(1, i+2−n),
    * i+1] (1-based). The duplicated CollectList subtrees are
    * deduplicated by aggregate planning, so the group array is built
    * once. O(len·n) per group at eval — post-aggregation, never on the
    * scan path. */
  private def movingAgg(es: Seq[Expression], isAvg: Boolean): Expression = {
    val (nOpt, x) = if (es.length >= 2) (Some(es.head), es(1)) else (None, es.head)
    def arr = SortArray(CollectList(Cast(x, DoubleType)).toAggregateExpression(), Literal(true))
    val v = lamVar("gr_mv_v")
    val i = lamVar("gr_mv_i")
    val start: Expression = nOpt match {
      case Some(n) => Greatest(Seq(Literal(1), Subtract(Add(i, Literal(2)), Cast(n, IntegerType))))
      case None    => Literal(1)
    }
    val len   = Subtract(Add(i, Literal(2)), start)
    val slice = Slice(arr, start, len)
    val body =
      if (isAvg) {
        val s = lamVar("gr_mv_s")
        sumFold(slice, LambdaFunction(Divide(s, Cast(len, DoubleType)), Seq(s)))
      } else sumFold(slice, LambdaFunction.identity)
    ArrayTransform(arr, LambdaFunction(body, Seq(v, i)))
  }

  /** A NULL typed as the array's element type (ElementAt past the
    * end with failOnError = false). */
  private def nullOfElementType(arr: Expression): Expression =
    ElementAt(arr, Add(Size(arr), Literal(1)), None, failOnError = false)

  /** Cyclic rotate left by n (negative n rotates right); n reduces
    * mod size with the sign folded in, empty arrays pass through. */
  private def arrayRotate(arr: Expression, n: Expression): Expression = {
    val size = Size(arr)
    val k = Remainder(Add(Remainder(n, size), size), size) // true mod, ≥ 0
    If(Or(LessThanOrEqual(size, Literal(0)), EqualTo(k, Literal(0))), arr,
      Concat(Seq(Slice(arr, Add(k, Literal(1)), size), Slice(arr, Literal(1), k))))
  }

  /** Shift left/right by n, padding the vacated tail/head with
    * `fill`; |n| ≥ size yields an all-fill array, and a NEGATIVE n
    * shifts the OTHER way (CH semantics — arrayShiftLeft(a, -2) ≡
    * arrayShiftRight(a, 2)). */
  private def arrayShift(arr: Expression, n: Expression, fill: Expression, left: Boolean): Expression = {
    val size = Size(arr)
    val k = Least(Seq(Abs(n), size))
    val pad = ArrayRepeat(fill, k)
    val shiftL = Concat(Seq(Slice(arr, Add(k, Literal(1)), size), pad))
    val shiftR = Concat(Seq(pad, Slice(arr, Literal(1), Subtract(size, k))))
    If(LessThanOrEqual(size, Literal(0)), arr,
      If(GreaterThanOrEqual(n, Literal(0)),
        if (left) shiftL else shiftR,
        if (left) shiftR else shiftL))
  }

  /** Non-overlapping substring count via the length delta (codegen'd
    * string ops, no regex). An empty needle counts 0 (guarding the
    * division); callers wanting case-insensitivity pass both sides
    * pre-lowered so the delta and the divisor measure the SAME
    * (lowercased) text even where lowercasing changes string length. */
  private def countSubstringsExpr(hay: Expression, needle: Expression): Expression =
    If(EqualTo(Length(needle), Literal(0)), Literal(0L),
      Cast(new IntegralDivide(
        Subtract(Length(hay), Length(StringReplace(hay, needle, Literal("")))),
        Length(needle)), LongType))

  /** Scheme-optional host extraction (ClickHouse's domain() accepts
    * `ex.com/path` without a scheme, unlike java.net.URI): optional
    * scheme, optional userinfo, host up to the first `:/?#`. */
  private def urlHostExpr(url: Expression): Expression =
    RegExpExtract(url,
      Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^@/?#]*@)?([^/?#:]+)"), Literal(1))

  /** netloc: everything between the optional scheme and the first
    * `/?#` — userinfo, host and port kept verbatim (CH semantics). */
  private def urlNetlocExpr(url: Expression): Expression =
    RegExpExtract(url, Literal("^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)"), Literal(1))

  /** The public-suffix-adjacent label set the documented
    * firstSignificantSubdomain heuristic keys on: a host whose
    * second-from-end label is one of these (com.tr, co.uk, …) takes
    * its third-from-end label as significant. ClickHouse embeds a
    * full public-suffix list; this is the documented core of it —
    * spec-pinned, and the divergence is only on exotic suffixes. */
  private val significantSlds: Seq[Expression] =
    Seq("com", "net", "org", "co", "biz", "edu", "gov", "mil").map(Literal(_))

  /** (labels, count, second-from-end label) of a host — the shared
    * decomposition under the firstSignificantSubdomain pair. */
  private def hostLabels(host: Expression): (Expression, Expression, Expression) = {
    val labels = StringSplit(host, Literal("\\."), Literal(-1))
    val n = Size(labels)
    val sld = ElementAt(labels, Subtract(n, Literal(1)), None, failOnError = false)
    (labels, n, sld)
  }

  /** ClickHouse's transform/caseWithExpression remap: x found in
    * `from` → the matching `to` element, else `default`. */
  /** Translate a LITERAL format argument from ClickHouse/MySQL
    * %-codes to Spark datetime patterns (only when it contains '%';
    * %-free literals and non-literal formats pass through untouched).
    * Codes with only week-based Spark equivalents (%u/%V/%w/%g/%G)
    * refuse loudly rather than map to patterns Spark rejects. */
  private def mysqlFmt(e: Expression): Expression =
    if (e.foldable && e.dataType == StringType) {
      e.eval(null) match {
        case null => e
        case v =>
          val s = v.toString
          if (s.contains('%')) Literal.create(mysqlToSparkPattern(s), StringType) else e
      }
    } else e

  private def mysqlToSparkPattern(fmt: String): String = {
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || c == '\''))
        sb.append('\'').append(s.replace("'", "''")).append('\'')
      else sb.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case '%' => lit.append('%')
          case 'n' => lit.append('\n')
          case 't' => lit.append('\t')
          case code =>
            val mapped = code match {
              case 'a' => "EEE"
              case 'b' => "MMM"
              case 'c' | 'm' => "MM"
              case 'd' => "dd"
              case 'e' => "d"
              case 'f' => "SSSSSS"
              case 'F' => "yyyy-MM-dd"
              case 'h' | 'I' => "hh"
              case 'H' => "HH"
              case 'i' => "mm"
              case 'j' => "DDD"
              case 'k' => "H"
              case 'l' => "h"
              case 'M' => "MMMM"
              case 'p' => "a"
              case 'Q' => "Q"
              case 'r' => "hh:mm:ss a"
              case 'R' => "HH:mm"
              case 's' | 'S' => "ss"
              case 'T' => "HH:mm:ss"
              case 'W' => "EEEE"
              case 'y' => "yy"
              case 'Y' => "yyyy"
              case 'z' => "xx"
              case other => throw new UnsupportedOperationException(
                s"formatDateTime/parseDateTime: '%$other' maps only to week-based or " +
                  "unsupported Spark patterns; reformulate with toISOWeek/toDayOfWeek")
            }
            flush(); sb.append(mapped)
        }
        i += 2
      } else { lit.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** ClickHouse `encrypt/decrypt('aes-N-mode', data, key)` on Spark's
    * native AES kernels. ECB round-trips CH ciphertexts bit-exactly
    * (no IV in either layout); CBC/GCM ciphertexts here carry the IV
    * IN the payload (Spark's layout) — self-consistent
    * encrypt→decrypt, but not CH-wire, so an explicit IV argument
    * refuses loudly rather than decode garbage. */
  private def chAes(es: Seq[Expression], decrypt: Boolean, tryMode: Boolean): Expression = {
    require(es.length >= 3, "encrypt/decrypt take ('aes-N-mode', data, key)")
    val modeStr = litString(es.head, "cipher mode").toLowerCase
    val m = """^aes-(128|192|256)-(ecb|cbc|gcm)$""".r.findFirstMatchIn(modeStr).getOrElse(
      throw new UnsupportedOperationException(
        s"cipher mode '$modeStr': aes-{128,192,256}-{ecb,cbc,gcm} execute here"))
    if (es.length > 3) throw new UnsupportedOperationException(
      "explicit-IV encrypt/decrypt is CH-wire layout; this engine's CBC/GCM ciphertexts " +
        "carry the IV in the payload (Spark layout) — drop the IV argument (ECB needs none)")
    val mode = Literal(m.group(2).toUpperCase)
    val bt = org.apache.spark.sql.types.BinaryType
    val (data, key) = (Cast(es(1), bt), Cast(es(2), bt))
    if (!decrypt) new AesEncrypt(data, key, mode)
    else if (tryMode) Cast(new TryAesDecrypt(data, key, mode), org.apache.spark.sql.types.StringType)
    else Cast(new AesDecrypt(data, key, mode), org.apache.spark.sql.types.StringType)
  }

  /** CH's sort-by-key lambda (`arraySort(x -> key, arr)`): rebuilt as
    * Spark's comparator-lambda array_sort — the key expression is
    * instantiated per side, tie → 0 (stable), NULL keys last like
    * Spark's default. */
  private def sortByKey(arr: Expression, keyFn: LambdaFunction, asc: Boolean): Expression = {
    val (body, v) = keyFn match {
      case LambdaFunction(b, Seq(one), _) => (b, one)
      case _ => throw new IllegalArgumentException("arraySort key lambda takes one argument")
    }
    def keyOf(side: Expression) = body.transformUp { case x if x.fastEquals(v) => side }
    val a = lamVar("gr_as_a")
    val b = lamVar("gr_as_b")
    val (ka, kb) = (keyOf(a), keyOf(b))
    val (ltv, gtv) = if (asc) (Literal(-1), Literal(1)) else (Literal(1), Literal(-1))
    val cmp = If(Or(IsNull(ka), IsNull(kb)),
      If(And(IsNull(ka), IsNull(kb)), Literal(0), If(IsNull(ka), Literal(1), Literal(-1))),
      If(LessThan(ka, kb), ltv, If(GreaterThan(ka, kb), gtv, Literal(0))))
    new ArraySort(arr, LambdaFunction(cmp, Seq(a, b)))
  }

  private def remap(x: Expression, from: Expression, to: Expression, default: Expression): Expression = {
    val pos = ArrayPosition(from, x)
    If(GreaterThan(pos, Literal(0L)), ElementAt(to, Cast(pos, IntegerType)), default)
  }

  /** Round x down to the largest step ≤ x (0 below the first step) —
    * the roundDuration/roundAge bucket ladders. */
  private def stepLadder(e: Expression, steps: Seq[Int]): Expression = {
    val x = Cast(e, LongType)
    val branches = (steps.reverse.map { s =>
      (GreaterThanOrEqual(x, Literal(s.toLong)), Literal(s.toLong): Expression)
    })
    CaseWhen(branches, Some(Literal(0L)))
  }

  private def assoc(es: Seq[Expression], kind: String): Expression =
    GraftAssociation(Literal(1),
      CreateNamedStruct(Seq(Literal("x"), es(0), Literal("y"), es(1))),
      Literal(1L), kind)

  /** Two-sample t test over (value, sample_index∈{0,1}): Student's
    * (pooled variance, df = n₀+n₁−2) or Welch's (unpooled,
    * Welch–Satterthwaite df). Every statistic is a conditional
    * aggregate over the same rows — one aggregation pass. */
  private def tTest(value: Expression, index: Expression, welch: Boolean): Expression = {
    val x = Cast(value, DoubleType)
    def sample(i: Int) = nullIfNot(EqualTo(Cast(index, IntegerType), Literal(i)), x)
    def n(i: Int)  = Cast(Count(Seq(sample(i))).toAggregateExpression(), DoubleType)
    def m(i: Int)  = Average(sample(i)).toAggregateExpression()
    def s2(i: Int) = VarianceSamp(sample(i)).toAggregateExpression()
    val (t, df) =
      if (welch) {
        val se0 = Divide(s2(0), n(0))
        val se1 = Divide(s2(1), n(1))
        val se  = Add(se0, se1)
        val tStat = Divide(Subtract(m(0), m(1)), Sqrt(se))
        // Welch–Satterthwaite effective degrees of freedom
        val dfW = Divide(Multiply(se, se),
          Add(Divide(Multiply(se0, se0), Subtract(n(0), Literal(1.0d))),
              Divide(Multiply(se1, se1), Subtract(n(1), Literal(1.0d)))))
        (tStat, dfW)
      } else {
        val dfS = Subtract(Add(n(0), n(1)), Literal(2.0d))
        val sp2 = Divide(
          Add(Multiply(Subtract(n(0), Literal(1.0d)), s2(0)),
              Multiply(Subtract(n(1), Literal(1.0d)), s2(1))), dfS)
        val tStat = Divide(Subtract(m(0), m(1)),
          Sqrt(Multiply(sp2, Add(Divide(Literal(1.0d), n(0)), Divide(Literal(1.0d), n(1))))))
        (tStat, dfS)
      }
    CreateNamedStruct(Seq(
      Literal("t_stat"), t,
      Literal("p_value"), StudentTPValue(t, df)))
  }

  /** Dotted-quad string → unsigned 32-bit value (shared by the CIDR
    * helpers and IPv4StringToNum's registration). */
  /** Codegen'd static call into [[IpKernels]] (Class.forName reaches
    * the static forwarders the object compiles to). */
  private def ipInvoke(dt: DataType, name: String, args: Seq[Expression],
                       nullable: Boolean = true): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      Class.forName("graft.plans.IpKernels"), dt, name, args, returnNullable = nullable)

  private def ipv4ToNum(s: Expression): Expression = {
    // accepts BOTH spellings CH does: a dotted-quad string or an
    // already-numeric IPv4 (e.g. from IPv4StringToNum/toIPv4)
    val str = Cast(s, org.apache.spark.sql.types.StringType)
    val parts = StringSplit(str, Literal("\\."), Literal(-1))
    def octet(i: Int, mult: Long) =
      Multiply(Cast(GetArrayItem(parts, Literal(i)), LongType), Literal(mult))
    val dotted = Add(Add(octet(0, 16777216L), octet(1, 65536L)), Add(octet(2, 256L), octet(3, 1L)))
    If(Contains(str, Literal(".")), dotted, Cast(s, LongType))
  }

  /** Unsigned 32-bit value → dotted-quad string. */
  private def numToIpv4(e: Expression): Expression = {
    val n = Cast(e, LongType)
    def octet(shift: Int) =
      Cast(BitwiseAnd(ShiftRight(n, Literal(shift)), Literal(255L)), org.apache.spark.sql.types.StringType)
    ConcatWs(Literal(".") +: Seq(octet(24), octet(16), octet(8), octet(0)))
  }

  /** Deterministic keyed permutation: each position pairs with
    * xxhash64(position, seed), the (hash, element) structs sort, and
    * the keys strip — a uniform pseudorandom shuffle that is
    * reproducible across engines, partition layouts and reruns.
    * Arrays of size ≤ 1 (and NULL) pass through. */
  private def arrayShuffle(arr: Expression, seed: Expression): Expression = {
    val i = lamVar("gr_shi")
    val p = lamVar("gr_shp")
    val idx = new Sequence(Literal(0), Subtract(Size(arr), Literal(1)), Literal(1))
    val pairs = ArrayTransform(idx, LambdaFunction(
      CreateStruct(Seq(
        new XxHash64(Seq(i, Cast(seed, LongType))),
        ElementAt(arr, Add(i, Literal(1))))),
      Seq(i)))
    val out = ArrayTransform(SortArray(pairs, Literal(true)), LambdaFunction(
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(p, Literal("col2")), Seq(p)))
    If(LessThanOrEqual(Size(arr), Literal(1)), arr, out)
  }

  def register(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.ChDialect", name),
        builder))
    }
}
