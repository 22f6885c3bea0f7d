package graft.winbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Four numbers per aggregate column: non-null count, sum, row-weighted sum
  * and sum of magnitudes. The weight is a function of the row's unique key
  * (l_orderkey, l_linenumber), so values moved to the wrong row change the
  * weighted sum even when the plain sum survives. */
final case class ColumnPrint(count: Long, sum: Double, weighted: Double, magnitude: Double)

/** Order-independent fingerprint of a result: its row count plus a
  * [[ColumnPrint]] per aggregate column. Computing it reads every value of
  * every aggregate column, so no timed job can let the optimizer prune a
  * window function away. */
final case class Print(rows: Long, columns: Seq[ColumnPrint])

object Fingerprint {
  /** Relative tolerance for the floating-point parts. Spark and DuckDB sum in
    * different orders (DuckDB evaluates running frames with segment trees),
    * so sums agree to rounding, which stays far below this. */
  val Tolerance = 1e-9
  private val MaxWeight = 97

  private def weight(orderkey: Long, linenumber: Long): Long = (orderkey * 31 + linenumber) % MaxWeight + 1
  private val weightCol = ((col("l_orderkey") * 31 + col("l_linenumber")) % MaxWeight + 1).cast(DoubleType)
  private val weightSql = s"CAST((l_orderkey * 31 + l_linenumber) % $MaxWeight + 1 AS DOUBLE)"

  /** One-row Spark aggregate holding the fingerprint of `df`. */
  def of(df: DataFrame, aliases: Seq[String]): DataFrame = {
    val parts: Seq[Column] = aliases.flatMap { a =>
      val v = col(a).cast(DoubleType)
      Seq(count(col(a)), sum(v), sum(v * weightCol), sum(abs(v)))
    }
    df.agg(count(lit(1)), parts: _*)
  }

  /** The same fingerprint as SQL over `inner`, for the DuckDB oracle. */
  def sql(inner: String, aliases: Seq[String]): String = {
    val parts = aliases.flatMap { a =>
      val v = s"CAST($a AS DOUBLE)"
      Seq(s"count($a)", s"sum($v)", s"sum($v * $weightSql)", s"sum(abs($v))")
    }
    s"SELECT ${("count(*)" +: parts).mkString(", ")} FROM ($inner) fp_t"
  }

  /** Decode the row [[of]] or [[sql]] produces (null sums of empty or
    * all-null columns read as 0). */
  def decode(values: Seq[Any]): Print = {
    def num(v: Any): Double = if (v == null) 0.0 else v.asInstanceOf[Number].doubleValue
    val cols = values.tail.grouped(4).map { g =>
      ColumnPrint(num(g(0)).toLong, num(g(1)), num(g(2)), num(g(3)))
    }.toSeq
    Print(num(values.head).toLong, cols)
  }

  /** Fingerprint of collected rows, computed on the driver. */
  def ofRows(rows: Array[Row], aliases: Seq[String]): Print = {
    if (rows.isEmpty) return Print(0, aliases.map(_ => ColumnPrint(0, 0, 0, 0)))
    val schema = rows.head.schema
    val ok = schema.fieldIndex("l_orderkey")
    val ln = schema.fieldIndex("l_linenumber")
    val idx = aliases.map(schema.fieldIndex)
    val n = new Array[Long](idx.size)
    val s, w, m = new Array[Double](idx.size)
    for (r <- rows) {
      val wt = weight(r.getLong(ok), r.getInt(ln).toLong).toDouble
      var i = 0
      while (i < idx.size) {
        val v = r.get(idx(i))
        if (v != null) {
          val d = v.asInstanceOf[Number].doubleValue
          n(i) += 1; s(i) += d; w(i) += d * wt; m(i) += math.abs(d)
        }
        i += 1
      }
    }
    Print(rows.length, idx.indices.map(i => ColumnPrint(n(i), s(i), w(i), m(i))))
  }

  /** None when `actual` matches `expected`, else what differs. */
  def compare(expected: Print, actual: Print, aliases: Seq[String]): Option[String] = {
    def close(e: Double, a: Double, scale: Double) = math.abs(e - a) <= Tolerance * (scale + 1.0)
    if (expected.rows != actual.rows) return Some(s"rows ${actual.rows} != expected ${expected.rows}")
    if (expected.columns.size != actual.columns.size)
      return Some(s"${actual.columns.size} columns != expected ${expected.columns.size}")
    val bad = aliases.zip(expected.columns.zip(actual.columns)).collect {
      case (a, (e, g)) if e.count != g.count || !close(e.magnitude, g.magnitude, e.magnitude) ||
          !close(e.sum, g.sum, e.magnitude) || !close(e.weighted, g.weighted, MaxWeight * e.magnitude) =>
        s"$a: got $g, expected $e"
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }
}
