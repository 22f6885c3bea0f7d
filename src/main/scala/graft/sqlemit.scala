package graft

import org.apache.spark.sql.types._

/** WindowQuerySpec → SQL text — the single-engine analogue of the reference's
  * ELT pushdown, which compiles the same config into BigQuery window SQL
  * instead of executing it in Spark (WindowAggregation.java:75-93 function
  * templates, :560-686 definition assembly). Emitting the query as SQL lets a
  * pipeline hand the window work to a warehouse that already holds the data —
  * the reference's reason for the feature — and doubles as an executable
  * specification of the engine's semantics (the parity test runs the emitted
  * Spark dialect through spark.sql and compares against WindowEngine.run).
  *
  * It prints decisions the engine makes: the select list is the engine's
  * own walk of [[WindowEngine.outputSchema]] (`WindowEngine.layout`), an
  * argument is the value [[WindowFn.parseArg]] read, and a declared type is
  * CAST where [[WindowEngine.castsToDeclared]] says Spark's result differs
  * from it.
  * Names are quoted where the dialect needs it (see `quote`). The one
  * divergence left is BigQuery's navigation functions (see `partitionOnly`).
  * The Spark dialect's DISCRETE_PERCENTILE is the engine's kernel,
  * `graft_percentile_disc`: it needs a session with graft.GraftExtensions
  * registered, and fails with UNRESOLVED_ROUTINE, never a wrong result,
  * on one without.
  */
object SqlEmitter {

  /** Target dialect. BigQuery reproduces the reference's templates
    * (PERCENTILE_CONT/DISC as window functions, `IGNORE NULLS` inside the
    * FIRST_VALUE arg list) with every name backtick-quoted; Spark emits
    * what spark.sql accepts (Hive `percentile`, boolean ignore-nulls
    * argument); DuckDb emits the ORACLE
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
    def name(n: String) = quote(n, dialect)
    // the cast wraps the whole windowed expression — CAST(fn() AS t) OVER
    // (...) is a syntax error in every dialect
    def windowed(agg: AggregateSpec, declared: DataType): String = {
      val base = s"${aggregateSql(agg, dialect)} ${overClause(spec, dialect, partitionOnly(agg, dialect))}"
      outputCast(agg, declared, dialect).fold(base)(t => s"CAST($base AS $t)") + s" AS ${name(agg.alias)}"
    }
    val select = WindowEngine.layout(schema, spec).map {
      case (f, None)      => name(f.name)
      case (f, Some(agg)) => windowed(agg, f.dataType)
    }
    s"SELECT ${select.mkString(", ")} FROM $table"
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

  private val Plain = "[A-Za-z_][A-Za-z0-9_]*".r

  /** A name as an identifier. DuckDb and BigQuery quote every name (double
    * quotes and backticks): both reserve words that Spark takes as names
    * (`order`, `from`, `select`, ...), and DuckDB matches a quoted name
    * regardless of case. Spark prints a plain name as it is and
    * backtick-quotes any other. */
  private def quote(n: String, dialect: Dialect): String = dialect match {
    case Dialect.DuckDb   => "\"" + n.replace("\"", "\"\"") + "\""
    case Dialect.BigQuery => s"`${n.replace("\\", "\\\\").replace("`", "\\`")}`"
    case Dialect.Spark    => if (Plain.matches(n)) n else s"`${n.replace("`", "``")}`"
  }

  /** The cast to the declared output type, dialect-mapped (BigQuery has
    * only FLOAT64/INT64 — FLOAT, DOUBLE, INT, BIGINT are not accepted type
    * names there). Applied where Spark's result type differs
    * ([[WindowEngine.castsToDeclared]]), and in DuckDb to two DuckDB-native
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
    if (WindowEngine.castsToDeclared(agg.fn) || duckNative) Some(typeName(declared)) else None
  }

  private def overClause(spec: WindowQuerySpec, dialect: Dialect, partitionOnly: Boolean): String = {
    val partition = s"PARTITION BY ${spec.partitionFields.map(quote(_, dialect)).mkString(", ")}"
    if (partitionOnly) return s"OVER ($partition)"
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
        s"${quote(o.field, dialect)} $dir"
      }.mkString(", ")
    val frame = spec.frame.frameType match {
      case FrameType.NoFrame => ""
      case ft =>
        val kw = if (ft == FrameType.Row) "ROWS" else "RANGE"
        s" $kw BETWEEN ${bound(spec.frame.startBound)} AND ${bound(spec.frame.endBound)}"
    }
    s"OVER ($partition$order$frame)"
  }

  /** Signed engine bound → SQL bound (reference sign convention: users write
    * -2 for "2 preceding"; sentinels are Long.MinValue/MaxValue). */
  private def bound(b: Long): String = b match {
    case Long.MinValue     => "UNBOUNDED PRECEDING"
    case Long.MaxValue     => "UNBOUNDED FOLLOWING"
    case 0L                => "CURRENT ROW"
    case n if n < 0        => s"${-n} PRECEDING"
    case n                 => s"$n FOLLOWING"
  }

  private def aggregateSql(agg: AggregateSpec, dialect: Dialect): String = {
    import Dialect._
    val col = quote(agg.field, dialect)
    // the parsed value (WindowFn.parseArg), never the user's spelling
    def arg = (agg.arg: @unchecked) match { case Right(Some(a)) => a.sql }
    def ignoreNulls: Boolean = WindowEngine.firstLastIgnoreNulls(agg)
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
          case Spark    => s"percentile($col, $p)"
          // the kernel reads every value as a DOUBLE; DuckDB would keep a
          // FLOAT or DECIMAL input's type
          case DuckDb   => s"quantile_cont(CAST($col AS DOUBLE), $p)"
        }
      case WindowFn.DiscretePercentile => dialect match {
        case BigQuery => s"PERCENTILE_DISC($col, $arg)"
        // DuckDB's quantile_disc picks the same cume_dist>=p element as the
        // engine's discrete ExactPercentileAgg, including over running frames
        case DuckDb => s"quantile_disc($col, $arg)"
        // the engine's kernel itself, registered by GraftExtensions
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
