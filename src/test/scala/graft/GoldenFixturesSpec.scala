package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replicates the reference's own golden-file fixtures end to end through the
  * DSL front end (FIXTURES.md §1-3):
  *  1. the e2e Cucumber pipeline (first() overwriting its input column),
  *  2. the docs sample pipeline (rank + lead),
  *  3. the example pipeline (discrete percentile at p=0.1).
  */
class GoldenFixturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dsl(partitionFields: String, partitionOrder: String, aggregates: String) =
    DslParser.parseSpec(partitionFields, partitionOrder, aggregates).fold(fs => fail(fs.mkString("; ")), identity)

  test("e2e fixture: first(age) over profession desc overwrites age with the max") {
    val in = Seq(
      (1, "Schuster", "Chris", "accountant", 23),
      (2, "Gamal", "Ali", "engineer", 30),
      (3, "Seitz", "Bob", "professor", 45),
      (4, "Bolt", "Henry", "engineer", 28),
      (5, "Shelton", "Alex", "professor", 50)
    ).toDF("id", "lastname", "firstname", "profession", "age")

    val out = WindowEngine.run(in, dsl(
      partitionFields = "profession",
      partitionOrder = "age:Descending",
      aggregates = "age:first(age,1,true)"))

    assert(out.columns.toSeq == Seq("id", "lastname", "firstname", "profession", "age"))
    val ages = out.collect().map(r => r.getInt(0) -> r.getInt(4)).toMap
    assert(ages == Map(1 -> 23, 2 -> 30, 4 -> 30, 3 -> 50, 5 -> 50))
  }

  test("docs fixture: rank + lead per location ascending age") {
    val in = Seq(
      ("peter", 20, "US"), ("foo", 22, "US"), ("rajeev", 24, "US"),
      ("john", 28, "US"), ("alex", 30, "US"),
      ("ravi", 20, "INDIA"), ("kenny", 30, "INDIA")
    ).toDF("name", "age", "location")

    // the docs write `my_rank:rank(,,true)` with an empty field; the reference's
    // own validator rejects unknown fields, so we bind rank to the order key.
    val out = WindowEngine.run(in, dsl(
      partitionFields = "location",
      partitionOrder = "age:Ascending",
      aggregates = "my_rank:rank(age,,true)\nnext_value:lead(age,1,false)"))

    val rows = out.collect().map(r =>
      r.getString(0) -> ((r.getInt(3), Option(r.get(4)).map(_.asInstanceOf[Int])))).toMap
    assert(rows("peter") == ((1, Some(22))))
    assert(rows("foo") == ((2, Some(24))))
    assert(rows("rajeev") == ((3, Some(28))))
    assert(rows("john") == ((4, Some(30))))
    assert(rows("alex") == ((5, None)))
    assert(rows("ravi") == ((1, Some(30))))
    assert(rows("kenny") == ((2, None)))
  }

  test("example-pipeline fixture: discrete percentile p=0.1 preserves input type") {
    val in = Seq(
      (1L, "Jamie", "Smith", 7280.9804f), (1L, "Jamie", "Smith", 6190.1372f),
      (1L, "Jamie", "Smith", 3127.5457f), (1L, "Jamie", "Smith", 3127.5457f),
      (2L, "Aj", "Rizi", 5850.325f), (2L, "Aj", "Rizi", 7278.8406f),
      (2L, "Aj", "Rizi", 3925.2045f), (2L, "Aj", "Rizi", 7116.5088f)
    ).toDF("Identifier", "FirstName", "LastName", "value")

    val out = WindowEngine.run(in, dsl(
      partitionFields = "Identifier",
      partitionOrder = "FirstName:Ascending",
      aggregates = "aliasDiscPercent:discrete_percentile(value,0.1,false)"))

    assert(out.schema("aliasDiscPercent").dataType == org.apache.spark.sql.types.FloatType)
    val got = out.collect().map(r => r.getLong(0) -> r.getFloat(4)).toMap
    // smallest value whose cume_dist >= 0.1: with 4 rows each value has cd >= 0.25,
    // so the partition minimum wins in both partitions.
    assert(got(1L) == 3127.5457f)
    assert(got(2L) == 3925.2045f)
  }
}
