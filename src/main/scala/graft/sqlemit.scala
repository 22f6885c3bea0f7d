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
  * Select-list shape mirrors the engine's output schema exactly
  * ([[WindowEngine.outputSchema]]): every input column in order, an aggregate
  * whose alias matches an input column REPLACES it in place, remaining
  * aggregates append. Declared output types (PERCENT_RANK → FLOAT,
  * ACCUMULATE → input type) are honored with CASTs so the emitted query is a
  * true drop-in for the engine result — with ONE documented exception: the
  * percentile family under BigQuery, and DISCRETE_PERCENTILE under Spark,
  * are navigation functions whose OVER admits PARTITION BY only, so an
  * ordered spec's running frame emits as whole-partition there (the engine
  * and the DuckDb dialect keep the running-frame semantics).
  */
object SqlEmitter {

  /** Target dialect. BigQuery reproduces the reference's templates verbatim
    * (PERCENTILE_CONT/DISC as window functions, `IGNORE NULLS` inside the
    * FIRST_VALUE arg list); Spark emits what spark.sql / ANSI engines accept
    * (Hive `percentile`, boolean ignore-nulls argument); DuckDb emits the
    * ORACLE form — the engine's declared output types surface as explicit
    * casts (rank family → INT, PERCENT_RANK → REAL, ACCUMULATE → input type)
    * and Spark's null-ordering defaults surface as NULLS FIRST/LAST, so a
    * result computed by DuckDB from the emitted text is value- and
    * dtype-identical to the engine's. The correctness gate consumes this
    * dialect directly (SparkEntry.oracleSql), which removes hand-written
    * oracle drift as a failure mode: the spec is the single source of truth
    * for both the executed query and its oracle. */
  sealed trait Dialect
  object Dialect {
    case object BigQuery extends Dialect
    case object Spark    extends Dialect
    case object DuckDb   extends Dialect
  }

  /** Emit `SELECT ... FROM table` for a validated spec. `schema` drives the
    * select list and the ACCUMULATE output cast. */
  def emit(spec: WindowQuerySpec, table: String, schema: StructType,
      dialect: Dialect = Dialect.Spark): String = {
    // the cast (declared output types) wraps the whole windowed expression —
    // CAST(fn() AS t) OVER (...) is a syntax error in every dialect
    def windowed(agg: AggregateSpec): String = {
      // BigQuery's PERCENTILE_CONT/PERCENTILE_DISC are navigation functions:
      // their window specification permits PARTITION BY only (ORDER BY or a
      // frame is a compile error), and they evaluate over the WHOLE
      // partition — a documented semantic divergence from the engine's
      // running-frame DISCRETE_PERCENTILE when an order clause is present.
      // Spark's percentile_disc (WITHIN GROUP form) carries the SAME
      // restriction — INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC on any OVER
      // order/frame — so its emission is partition-only too.
      val partitionOnly = agg.fn match {
        case WindowFn.Median | WindowFn.ContinuousPercentile | WindowFn.DiscretePercentile
          if dialect == Dialect.BigQuery => true
        case WindowFn.DiscretePercentile if dialect == Dialect.Spark => true
        case _ => false
      }
      val base = s"${aggregateSql(agg, dialect)} ${overClause(spec, dialect, partitionOnly)}"
      outputCast(agg, schema, dialect).fold(base)(t => s"CAST($base AS $t)") + s" AS ${agg.alias}"
    }
    val byAlias = spec.aggregates.map(a => a.alias -> a).toMap
    val inputNames = schema.fieldNames.toSet
    val inPlace = schema.fields.map { f =>
      byAlias.get(f.name) match {
        case Some(agg) => windowed(agg)
        case None      => f.name
      }
    }
    val appended = spec.aggregates.filterNot(a => inputNames.contains(a.alias)).map(windowed)
    s"SELECT ${(inPlace ++ appended).mkString(", ")} FROM $table"
  }

  /** Declared output types, matching [[WindowEngine.outputSchema]]:
    * PERCENT_RANK → FLOAT, ACCUMULATE → input type (SUM widens). Type names
    * are dialect-mapped — BigQuery has only FLOAT64/INT64 (FLOAT, DOUBLE,
    * INT, BIGINT are not accepted type names there). */
  private def outputCast(agg: AggregateSpec, schema: StructType, dialect: Dialect): Option[String] = {
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
    agg.fn match {
      case WindowFn.PercentRank => Some(typeName(FloatType))
      case WindowFn.Accumulate  => schema.fields.find(_.name == agg.field).map(f => typeName(f.dataType))
      // declared output = input type; Spark's percentile_disc and a SQL
      // engine's widened aggregate need the pin (BigQuery keeps the
      // reference template verbatim, uncast)
      case WindowFn.DiscretePercentile if dialect != Dialect.BigQuery =>
        schema.fields.find(_.name == agg.field).map(f => typeName(f.dataType))
      // DuckDB's rank family returns BIGINT; the engine declares INT
      // (reference Function enum) — surfaced as an explicit cast so the
      // oracle's dtype matches the engine's
      case WindowFn.Rank | WindowFn.DenseRank | WindowFn.NTile | WindowFn.RowNumber
        if dialect == Dialect.DuckDb => Some(typeName(IntegerType))
      case _                    => None
    }
  }

  private def overClause(spec: WindowQuerySpec, dialect: Dialect,
      partitionOnly: Boolean = false): String = {
    val partition = s"PARTITION BY ${spec.partitionFields.mkString(", ")}"
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
        s"${o.field} $dir"
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
    val col = agg.field
    def arg0 = agg.args.head
    def ignoreNulls: Boolean = WindowEngine.firstLastIgnoreNulls(agg)
    agg.fn match {
      case WindowFn.Rank        => "RANK()"
      case WindowFn.DenseRank   => "DENSE_RANK()"
      case WindowFn.PercentRank => "PERCENT_RANK()" // FLOAT cast applied around the OVER
      case WindowFn.NTile       => s"NTILE($arg0)"
      case WindowFn.RowNumber   => "ROW_NUMBER()"
      case WindowFn.Median => dialect match {
        case BigQuery => s"PERCENTILE_CONT($col, 0.5)"
        case Spark    => s"percentile($col, 0.5)"
        case DuckDb   => s"quantile_cont($col, 0.5)"
      }
      case WindowFn.ContinuousPercentile => dialect match {
        case BigQuery => s"PERCENTILE_CONT($col, $arg0)"
        case Spark    => s"percentile($col, $arg0)"
        case DuckDb   => s"quantile_cont($col, $arg0)"
      }
      case WindowFn.DiscretePercentile => dialect match {
        case BigQuery => s"PERCENTILE_DISC($col, $arg0)"
        // DuckDB's quantile_disc picks the same cume_dist>=p element as the
        // engine's discrete ExactPercentileAgg, including over running frames
        case DuckDb => s"quantile_disc($col, $arg0)"
        // whole-partition only (see partitionOnly above); the engine's
        // running-frame form still needs the native ExactPercentileAgg
        case Spark => s"PERCENTILE_DISC($arg0) WITHIN GROUP (ORDER BY $col)"
      }
      case WindowFn.Lead => s"LEAD($col, $arg0)"
      case WindowFn.Lag  => s"LAG($col, $arg0)"
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
