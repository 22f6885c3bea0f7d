package graft.winbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded lineitem-shaped inputs with exactly the columns of
  * [[graft.SparkEntry.liSchema]]. The same seed and shape give the same rows,
  * whatever the session's parallelism.
  *
  * Order keys are tie-free: (l_orderkey, l_linenumber) is unique, and so is
  * l_extendedprice, which is `900 + ((id * stride + offset) mod PricePrime) / 100`
  * with a seeded stride — a bijection of the row ids below PricePrime. Every
  * order-sensitive function (ROW_NUMBER, LEAD, FIRST, running MEDIAN, ...) thus
  * has one correct answer, which the DuckDB oracle can reproduce.
  */
object Inputs {
  /** A prime above every row count the benchmark generates. */
  val PricePrime = 4000037L

  /** Partition-key distribution of one generated table.
    * @param suppliers l_suppkey is uniform over 1..suppliers
    * @param flags     l_returnflag values with integer weights */
  case class Shape(rows: Long, suppliers: Int, flags: Seq[(String, Int)])

  /** The table, generated in `partitions` partitions (0: the session default). */
  def lineitem(spark: SparkSession, shape: Shape, seed: Long, partitions: Int = 0): DataFrame = {
    require(shape.rows < PricePrime, s"at most ${PricePrime - 1} rows")
    val rnd = new scala.util.Random(seed)
    val stride = 1L + rnd.nextInt(Int.MaxValue) % (PricePrime - 1)
    val offset = rnd.nextInt(Int.MaxValue).toLong % PricePrime
    def draw(salt: Int, n: Long): Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(n))
    val totalWeight = shape.flags.map(_._2).sum
    val flagDraw = draw(4, totalWeight.toLong)
    val cumulative = shape.flags.scanLeft(0)(_ + _._2).tail
    val flag = shape.flags.zip(cumulative).init.foldRight(lit(shape.flags.last._1)) {
      case (((f, _), upTo), rest) => when(flagDraw < upTo, lit(f)).otherwise(rest)
    }
    val ids = if (partitions > 0) spark.range(0, shape.rows, 1, partitions) else spark.range(shape.rows)
    ids.select(
      (expr("id div 4") + 1L).as("l_orderkey"),
      (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
      flag.as("l_returnflag"),
      when(draw(5, 2) === 0, lit("F")).otherwise(lit("O")).as("l_linestatus"),
      (draw(1, shape.suppliers) + 1L).as("l_suppkey"),
      (lit(900.0) + ((col("id") * stride + offset) % PricePrime) / 100.0).as("l_extendedprice"),
      (draw(2, 50) + 1L).cast(DoubleType).as("l_quantity"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), draw(3, 2526).cast(IntegerType))
        .cast(TimestampNTZType).as("l_shipdate"))
  }

  def write(spark: SparkSession, shape: Shape, seed: Long, path: String): Unit =
    lineitem(spark, shape, seed).write.mode("overwrite").parquet(path)
}
