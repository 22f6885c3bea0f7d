package graft

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The DuckDB oracle of the tests: runs the DuckDb dialect's text through
  * `python3` with `duckdb`, and compares DuckDB's answer with the engine's. */
object DuckDbOracle {
  /** Runs `sqls` over a parquet copy of `df`, viewed as `table`, in one
    * `python3` call to duckdb, as winbench's oracle and tools/check.py do:
    * per query its column names, DuckDB type names and rows, or the error
    * DuckDB raised. Decimals come back as text, timestamps as epoch
    * microseconds (Spark writes the instant; DuckDB may read it as UTC).
    * One thread and one file: rows tied on the order keys meet the window in
    * the file's order, as they do on Spark over one input partition. */
  def viaDuckDb(df: DataFrame, table: String, sqls: Seq[String]): Seq[JsonNode] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-duckdb").toFile
    try {
      df.coalesce(1).write.parquet(s"$dir/$table")
      val mapper = new ObjectMapper()
      mapper.writeValue(new File(dir, "request.json"),
        Map[String, AnyRef]("table" -> table, "parquet" -> s"$dir/$table", "queries" -> sqls.asJava).asJava)
      val err = new StringBuilder
      val code = Process(Seq("python3", "-c", duckScript, s"$dir/request.json", s"$dir/response.json"))
        .!(ProcessLogger(_ => (), line => err ++= line + "\n"))
      assert(code == 0, s"python3 with duckdb failed:\n$err")
      mapper.readTree(new File(dir, "response.json")).elements().asScala.toSeq
    } finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  private val duckScript =
    """import datetime, decimal, json, math, sys
      |import duckdb
      |req = json.load(open(sys.argv[1]))
      |con = duckdb.connect()
      |con.execute("SET threads = 1")
      |con.execute(f"CREATE VIEW {req['table']} AS SELECT * FROM read_parquet('{req['parquet']}/*.parquet')")
      |utc = datetime.timezone.utc
      |epoch = datetime.datetime(1970, 1, 1, tzinfo=utc)
      |def cell(v):
      |    if isinstance(v, float) and not math.isfinite(v):
      |        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[str(v)]
      |    if isinstance(v, decimal.Decimal):
      |        return str(v)
      |    if isinstance(v, datetime.datetime):
      |        return ((v if v.tzinfo else v.replace(tzinfo=utc)) - epoch) // datetime.timedelta(microseconds=1)
      |    if isinstance(v, datetime.date):
      |        return v.isoformat()
      |    return v
      |out = []
      |for sql in req["queries"]:
      |    try:
      |        rel = con.sql(sql)
      |        out.append({"columns": rel.columns, "types": [str(t) for t in rel.types],
      |                    "rows": [[cell(v) for v in r] for r in rel.fetchall()]})
      |    except duckdb.Error as e:
      |        out.append({"error": str(e).splitlines()[0]})
      |json.dump(out, open(sys.argv[2], "w"))
      |""".stripMargin

  /** How DuckDB's answer differs from the engine's `rows` under `schema`:
    * names, DuckDB type names, then the rows as a multiset, floating values
    * within winbench's relative tolerance (DuckDB sums frames in another
    * order). None when it does not. */
  def duckMismatch(schema: StructType, rows: Seq[Row], duck: JsonNode): Option[String] = {
    def duckType(dt: DataType) = dt match {
      case IntegerType => "INTEGER"
      case StringType  => "VARCHAR"
      case other       => other.sql
    }
    def same(v: Any, j: JsonNode): Boolean = v match {
      case null                    => j.isNull
      case x: Float                => same(x.toDouble, j)
      case x: Double               =>
        if (j.isNumber) x == j.asDouble || math.abs(x - j.asDouble) <= 1e-9 * math.abs(x) else j.asText == x.toString
      case x: java.math.BigDecimal => j.isTextual && new java.math.BigDecimal(j.asText).compareTo(x) == 0
      case x: java.sql.Timestamp   =>
        j.isIntegralNumber && j.asLong == x.toInstant.getEpochSecond * 1000000L + x.toInstant.getNano / 1000
      case x: java.sql.Date        => j.isTextual && j.asText == x.toString
      case x: Boolean              => j.isBoolean && j.asBoolean == x
      case x: String               => j.isTextual && j.asText == x
      case x: Number               => j.isIntegralNumber && j.asLong == x.longValue
    }
    def texts(field: String) = duck.get(field).elements().asScala.map(_.asText).toSeq
    val want = schema.fields.map(f => f.name -> duckType(f.dataType)).toSeq
    if (duck.has("error")) Some(s"DuckDB raised ${duck.get("error").asText}")
    else if (texts("columns").zip(texts("types")) != want) Some(s"DuckDB columns ${texts("columns").zip(texts("types"))} != $want")
    else {
      val left = ArrayBuffer(duck.get("rows").elements().asScala.toSeq: _*)
      val unmatched = rows.filterNot { r =>
        val at = left.indexWhere(j => (0 until r.length).forall(c => same(r.get(c), j.get(c))))
        at >= 0 && { left.remove(at); true }
      }
      if (unmatched.isEmpty && left.isEmpty) None
      else Some(s"DuckDB rows != engine rows, e.g. engine ${unmatched.headOption.getOrElse("-")} / DuckDB ${left.headOption.getOrElse("-")}")
    }
  }
}
