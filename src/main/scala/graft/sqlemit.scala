package graft

import org.apache.spark.sql.types._

/** WindowQuerySpec → SQL text — the single-engine analogue of the reference's
  * ELT pushdown, which compiles the same config into BigQuery window SQL
  * instead of executing it in Spark (WindowAggregation.java:75-93 function
  * templates, :560-686 definition assembly). Emitting the query as SQL lets a
  * pipeline hand the window work to a warehouse that already holds the data —
  * the reference's reason for the feature.
  *
  * It is also the engine's function table: [[WindowEngine.run]] selects the
  * Spark dialect's select items (`items`), so each of the 14 functions is
  * mapped to Spark here and nowhere else. The select list is the engine's
  * walk of [[WindowEngine.outputSchema]] (`WindowEngine.layout`), an argument
  * is the value [[WindowFn.parseArg]] read, and a declared type is CAST where
  * `castsToDeclared` says Spark's result differs from it.
  * Every name is quoted (see `quote`), and a value-offset RANGE frame orders
  * by an INT key as a BIGINT (see `overClause`). The one divergence from the
  * engine left is BigQuery's navigation functions (see `partitionOnly`).
  * The Spark dialect's percentile family is the engine's kernel
  * ([[WindowExtensions]]), with one exception: [[emit]] prints Spark's own
  * `percentile` for MEDIAN and CONTINUOUS_PERCENTILE where the engine's items
  * name `graft_percentile` (see `aggregateSql`), so that text runs on any
  * session. Its DISCRETE_PERCENTILE, `graft_percentile_disc`, needs a
  * session where the engine ran or graft.GraftExtensions is registered, and
  * fails with UNRESOLVED_ROUTINE, never a wrong result, on one without.
  */
object SqlEmitter {

  /** Target dialect. BigQuery reproduces the reference's templates
    * (PERCENTILE_CONT/DISC as window functions, `IGNORE NULLS` inside the
    * FIRST_VALUE arg list) with every name backtick-quoted; Spark emits
    * what spark.sql and the engine run (boolean ignore-nulls argument, the
    * engine's percentile kernel); DuckDb emits the ORACLE
    * form — DuckDB-native result types surface as explicit casts and Spark's
    * null-ordering defaults as NULLS FIRST/LAST, so a result computed by
    * DuckDB from the emitted text is value- and dtype-identical to the
    * engine's. The correctness gate consumes this
    * dialect directly (SparkEntry.oracleSql), which removes hand-written
    * oracle drift as a failure mode: the spec is the single source of truth
    * for both the executed query and its oracle. */
  sealed trait Dialect
  object Dialect {
    case object BigQuery extends Dialect
    case object Spark    extends Dialect
    case object DuckDb   extends Dialect
  }

  /** Emit `SELECT ... FROM table` for `spec` over `schema`. Throws
    * GraftValidationException, as [[WindowEngine.run]] does, for a spec the
    * validator rejects: nothing is emitted for it. */
  def emit(spec: WindowQuerySpec, table: String, schema: StructType,
      dialect: Dialect = Dialect.Spark): String = {
    Validator.requireValid(spec, schema)
    s"SELECT ${items(spec, schema, dialect, kernel = false).mkString(", ")} FROM $table"
  }

  /** The select items of a valid `spec` over `schema`, one per output field
    * in [[WindowEngine.layout]]'s order; by default the engine's. `kernel`:
    * the Spark dialect's MEDIAN and CONTINUOUS_PERCENTILE call the engine's
    * kernel rather than Spark's `percentile` (see `aggregateSql`). */
  private[graft] def items(spec: WindowQuerySpec, schema: StructType,
      dialect: Dialect = Dialect.Spark, kernel: Boolean = true): Seq[String] = {
    def name(n: String) = quote(n, dialect)
    // the cast wraps the whole windowed expression — CAST(fn() AS t) OVER
    // (...) is a syntax error in every dialect
    def windowed(agg: AggregateSpec, declared: DataType): String = {
      val base = s"${aggregateSql(agg, dialect, kernel)} ${overClause(spec, schema, dialect, partitionOnly(agg, dialect))}"
      outputCast(agg, declared, dialect).fold(base)(t => s"CAST($base AS $t)") + s" AS ${name(agg.alias)}"
    }
    WindowEngine.layout(schema, spec).map {
      case (f, None)      => name(f.name)
      case (f, Some(agg)) => windowed(agg, f.dataType)
    }
  }

  /** BigQuery's PERCENTILE_CONT/DISC are navigation functions: their OVER
    * admits PARTITION BY only, so an ordered spec's running frame evaluates
    * over the whole partition there — a documented divergence from the
    * engine, kept because these are the reference's own templates. */
  private def partitionOnly(agg: AggregateSpec, dialect: Dialect): Boolean =
    dialect == Dialect.BigQuery && (agg.fn match {
      case WindowFn.Median | WindowFn.ContinuousPercentile | WindowFn.DiscretePercentile => true
      case _ => false
    })

  /** A name as an identifier, quoted in every dialect: each reserves words
    * that Spark takes as names (`order`, `from`, `select`, ...) — Spark too,
    * under `spark.sql.ansi.enforceReservedKeywords` — and DuckDB matches a
    * quoted name regardless of case. Spark's backticks also keep a name like
    * `a.b` one column, not a struct path. */
  private def quote(n: String, dialect: Dialect): String = dialect match {
    case Dialect.DuckDb   => "\"" + n.replace("\"", "\"\"") + "\""
    case Dialect.BigQuery => s"`${n.replace("\\", "\\\\").replace("`", "\\`")}`"
    case Dialect.Spark    => s"`${n.replace("`", "``")}`"
  }

  /** Whether Spark's result type differs from the declared one
    * (`WindowEngine.layout`'s field type), so every dialect casts:
    * PERCENT_RANK (declared FLOAT, WindowAggregationConfig.java:333; Spark
    * computes DOUBLE) and ACCUMULATE (declared = input type, :398; sum widens
    * int→long). EngineSpec checks that the other 12 match; a no-op cast is
    * not free (Catalyst drops it but keeps the renaming Project it split off
    * above the Window). */
  private def castsToDeclared(fn: WindowFn): Boolean =
    fn == WindowFn.PercentRank || fn == WindowFn.Accumulate

  /** The cast to the declared output type, dialect-mapped (BigQuery has
    * only FLOAT64/INT64 — FLOAT, DOUBLE, INT, BIGINT are not accepted type
    * names there). Applied where Spark's result type differs
    * (`castsToDeclared`), and in DuckDb to two DuckDB-native
    * results: the rank family, which DuckDB returns as BIGINT, and
    * DISCRETE_PERCENTILE, pinned to its input type. */
  private def outputCast(agg: AggregateSpec, declared: DataType, dialect: Dialect): Option[String] = {
    def typeName(dt: DataType): String = dialect match {
      case Dialect.BigQuery => dt match {
        case FloatType | DoubleType           => "FLOAT64"
        case IntegerType | LongType | ShortType | ByteType => "INT64"
        case other                            => other.sql
      }
      case Dialect.DuckDb => dt match {
        case FloatType   => "REAL"
        case IntegerType => "INTEGER"
        case other       => other.sql // DOUBLE / BIGINT / SMALLINT / TINYINT align
      }
      case Dialect.Spark => dt.sql
    }
    val duckNative = dialect == Dialect.DuckDb && (agg.fn match {
      case WindowFn.Rank | WindowFn.DenseRank | WindowFn.NTile | WindowFn.RowNumber |
           WindowFn.DiscretePercentile => true
      case _ => false
    })
    if (castsToDeclared(agg.fn) || duckNative) Some(typeName(declared)) else None
  }

  private def overClause(spec: WindowQuerySpec, schema: StructType, dialect: Dialect, partitionOnly: Boolean): String = {
    val partition = s"PARTITION BY ${spec.partitionFields.map(quote(_, dialect)).mkString(", ")}"
    if (partitionOnly) return s"OVER ($partition)"
    // Spark and DuckDB add a RANGE offset to an INT key in INT and fail past
    // its range (2147483647 FOLLOWING does from key 1), so they order by the
    // key as a BIGINT; BigQuery's INT64 is one already.
    val widened = dialect != Dialect.BigQuery &&
      spec.frame.exists(f => f.frameType == FrameType.Range && f.offsets.nonEmpty)
    def key(f: String) = if (widened && schema.find(_.name == f).exists(_.dataType == IntegerType))
      s"CAST(${quote(f, dialect)} AS BIGINT)" else quote(f, dialect)
    val order =
      if (spec.order.isEmpty) ""
      else " ORDER BY " + spec.order.map { o =>
        // DuckDB defaults to NULLS LAST everywhere; Spark's default is
        // NULLS FIRST for ASC, NULLS LAST for DESC — pinned explicitly in
        // the oracle dialect so null order keys cannot silently diverge
        val dir = (o.direction, dialect) match {
          case (SortDirection.Ascending, Dialect.DuckDb)  => "ASC NULLS FIRST"
          case (SortDirection.Descending, Dialect.DuckDb) => "DESC NULLS LAST"
          case (SortDirection.Ascending, _)               => "ASC"
          case (SortDirection.Descending, _)              => "DESC"
        }
        s"${key(o.field)} $dir"
      }.mkString(", ")
    val frame = spec.frame.fold("") { f =>
      val kw = if (f.frameType == FrameType.Row) "ROWS" else "RANGE"
      s" $kw BETWEEN ${bound(f.start)} AND ${bound(f.end)}"
    }
    s"OVER ($partition$order$frame)"
  }

  /** Signed [[FrameSpec]] bound → SQL bound (reference sign convention: users
    * write -2 for "2 preceding"). */
  private def bound(b: Long): String = b match {
    case FrameSpec.UnboundedPreceding => "UNBOUNDED PRECEDING"
    case FrameSpec.UnboundedFollowing => "UNBOUNDED FOLLOWING"
    case 0L                           => "CURRENT ROW"
    case n if n < 0                   => s"${-n} PRECEDING"
    case n                            => s"$n FOLLOWING"
  }

  /** FIRST/LAST ignoreNulls: config flag OR'd with an optional boolean arg
    * (reference: WindowsAggregationUtil.java:158-171, and the pushdown's
    * WindowAggregation.java:640-645). Parsed like Java's
    * Boolean.parseBoolean — true iff the literal "true", never throws (the
    * e2e fixture passes "1" here). */
  private def firstLastIgnoreNulls(agg: AggregateSpec): Boolean =
    agg.ignoreNulls || agg.args.headOption.exists(_.equalsIgnoreCase("true"))

  /** Function → call (reference dispatch: WindowsAggregationUtil.java:126-179
    * for Spark, WindowAggregation.java:75-93 for BigQuery). */
  private def aggregateSql(agg: AggregateSpec, dialect: Dialect, kernel: Boolean): String = {
    import Dialect._
    val col = quote(agg.field, dialect)
    // the parsed value (WindowFn.parseArg), never the user's spelling
    def arg = (agg.arg: @unchecked) match { case Right(Some(a)) => a.sql }
    def ignoreNulls: Boolean = firstLastIgnoreNulls(agg)
    agg.fn match {
      case WindowFn.Rank        => "RANK()"
      case WindowFn.DenseRank   => "DENSE_RANK()"
      case WindowFn.PercentRank => "PERCENT_RANK()" // FLOAT cast applied around the OVER
      case WindowFn.NTile       => s"NTILE($arg)"
      case WindowFn.RowNumber   => "ROW_NUMBER()"
      case WindowFn.Median | WindowFn.ContinuousPercentile =>
        val p = if (agg.fn == WindowFn.Median) "0.5" else arg
        dialect match {
          case BigQuery => s"PERCENTILE_CONT($col, $p)"
          // Exact, NOT approx_percentile: the reference calls Spark's
          // `percentile` (WindowsAggregationUtil.java:140-147), and the
          // kernel reproduces it bit for bit. The engine's items call the
          // kernel; emit prints `percentile` itself, so that its text runs
          // on a session where the graft functions are not registered.
          case Spark    => s"${if (kernel) "graft_percentile" else "percentile"}($col, $p)"
          // the kernel reads every value as a DOUBLE; DuckDB would keep a
          // FLOAT or DECIMAL input's type
          case DuckDb   => s"quantile_cont(CAST($col AS DOUBLE), $p)"
        }
      case WindowFn.DiscretePercentile => dialect match {
        case BigQuery => s"PERCENTILE_DISC($col, $arg)"
        // DuckDB's quantile_disc picks the same cume_dist>=p element as the
        // engine's discrete ExactPercentileAgg, including over running frames
        case DuckDb => s"quantile_disc($col, $arg)"
        // the engine's kernel, over the spec's full OVER clause: with an
        // order clause it evaluates per row on the default running RANGE
        // frame, like the reference UDAF's .over(spec)
        // (WindowsAggregationUtil.java:119-124)
        case Spark => s"graft_percentile_disc($col, $arg)"
      }
      case WindowFn.Lead => s"LEAD($col, $arg)"
      case WindowFn.Lag  => s"LAG($col, $arg)"
      case WindowFn.First => dialect match {
        case BigQuery | DuckDb => s"FIRST_VALUE($col ${if (ignoreNulls) "IGNORE" else "RESPECT"} NULLS)"
        case Spark    => s"FIRST_VALUE($col, $ignoreNulls)"
      }
      case WindowFn.Last => dialect match {
        case BigQuery | DuckDb => s"LAST_VALUE($col ${if (ignoreNulls) "IGNORE" else "RESPECT"} NULLS)"
        case Spark    => s"LAST_VALUE($col, $ignoreNulls)"
      }
      case WindowFn.CumulativeDistribution => "CUME_DIST()"
      case WindowFn.Accumulate => s"SUM($col)" // input-type cast applied around the OVER
    }
  }
}
