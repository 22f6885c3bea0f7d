package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Csv

/** The reference's e2e pipeline shape end to end on this engine:
  * CSV source → window aggregation → CSV sink → read back and compare to the
  * golden row set (FIXTURES.md §1). */
class CsvPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("lastname", StringType),
    StructField("firstname", StringType),
    StructField("profession", StringType),
    StructField("age", IntegerType)))

  test("csv source → window aggregation → csv sink reproduces the e2e golden file") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val in = s"$dir/in.csv"
    Files.writeString(java.nio.file.Path.of(in),
      """id,lastname,firstname,profession,age
        |1,Schuster,Chris,accountant,23
        |2,Gamal,Ali,engineer,30
        |3,Seitz,Bob,professor,45
        |4,Bolt,Henry,engineer,28
        |5,Shelton,Alex,professor,50
        |""".stripMargin)

    val src = Csv.read(spark, in, schema)
    val spec = DslParser.parseSpec(
      partitionFields = "profession",
      partitionOrder = "age:Descending",
      aggregates = "age:first(age,1,true)").fold(fs => fail(fs.mkString("; ")), identity)
    val out = WindowEngine.run(src, spec)
    Csv.write(out, s"$dir/out")

    val back = Csv.read(spark, s"$dir/out", schema).collect()
      .map(r => r.getInt(0) -> r.getInt(4)).toMap
    assert(back == Map(1 -> 23, 2 -> 30, 4 -> 30, 3 -> 50, 5 -> 50))

    // semicolon-delimited variant (the example pipeline's format)
    val semi = s"$dir/semi.csv"
    Files.writeString(java.nio.file.Path.of(semi), "id;lastname;firstname;profession;age\n9;X;Y;prof;33\n")
    assert(Csv.read(spark, semi, schema, delimiter = ";").collect()(0).getInt(4) == 33)
  }
}
