package graft

import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {

  test("docs example parses: nextValue:lead(value,1,false)") {
    val Right(Seq(a)) = DslParser.parseAggregates("nextValue:lead(value,1,false)")
    assert(a == AggregateSpec("nextValue", WindowFn.Lead, "value", Seq("1"), ignoreNulls = false))
  }

  test("ignoreNulls defaults to true unless the literal string false") {
    val Right(Seq(t1, t2, t3)) = DslParser.parseAggregates(
      "a:first(v,,)\nb:first(v,,true)\nc:first(v,,FALSE)")
    assert(t1.ignoreNulls && t2.ignoreNulls && t3.ignoreNulls) // "FALSE" != "false"
    val Right(Seq(f)) = DslParser.parseAggregates("d:first(v,,false)")
    assert(!f.ignoreNulls)
    // the slot is compared RAW (reference holds the untrimmed substring):
    // ' false' with a leading space does NOT disable ignoreNulls
    val Right(Seq(sp)) = DslParser.parseAggregates("e:first(v,, false)")
    assert(sp.ignoreNulls)
  }

  test("blank lines are parse failures, not silently skipped") {
    val Left(fs) = DslParser.parseAggregates("x:rank(v,,)\n\ny:rank(v,,)")
    assert(fs.size == 1 && fs.head.message.contains("':'"))
  }

  test("trailing newline is a parse failure (Guava trailing-segment parity)") {
    // Guava's Splitter.on('\n') yields a trailing empty segment for input
    // ending in '\n', which the reference reports as a missing-':' failure
    val Left(fs) = DslParser.parseAggregates("x:rank(v,,)\n")
    assert(fs.size == 1 && fs.head.message.contains("':'"))
  }

  test("%2C-encoded args decode then split") {
    val Right(Seq(a)) = DslParser.parseAggregates("x:n_tile(v,1%2C2%2C3,)")
    assert(a.args == Seq("1", "2", "3"))
  }

  test("empty args slot gives zero args") {
    val Right(Seq(a)) = DslParser.parseAggregates("x:rank(v,,)")
    assert(a.args.isEmpty)
  }

  test("function name is case-insensitive") {
    val Right(Seq(a)) = DslParser.parseAggregates("x:DeNsE_rAnK(v,,)")
    assert(a.fn == WindowFn.DenseRank)
  }

  test("multiple lines preserve order; failures accumulate") {
    val Left(fs) = DslParser.parseAggregates(
      "noColon\nx:rank(v,,)\nx:rank(v,,)\ny:nope(v,,)\nz:rank(v)")
    assert(fs.size == 4) // missing colon, dup alias, bad function, missing params
    assert(fs.exists(_.message.contains("':'")))
    assert(fs.exists(_.message.contains("same alias 'x'")))
    assert(fs.exists(_.message.contains("Invalid function 'nope'")))
  }

  test("missing closing paren rejected") {
    val Left(fs) = DslParser.parseAggregates("x:rank(v,,")
    assert(fs.exists(_.message.contains("')'")))
  }

  test("empty aggregates property rejected") {
    val Left(fs) = DslParser.parseAggregates("  \n ")
    assert(fs.exists(_.message.contains("Missing 'aggregates' property")))
  }

  test("the five frame settings make one frame: NONE is none, a flag overrides a value, a missing bound is the current row") {
    def frame(ft: String, p: Option[Long] = None, f: Option[Long] = None, up: Boolean = false, uf: Boolean = false) =
      DslParser.parseSpec("k", "v:Ascending", "x:first(v,,)", ft, p, f, up, uf).map(_.frame)
    import FrameSpec.{UnboundedFollowing => UF, UnboundedPreceding => UP}
    // NONE (any case, or empty) is no frame, whatever bounds are set
    for (none <- Seq("NONE", "none", " None ", ""))
      assert(frame(none, Some(-2L), Some(3L), up = true, uf = true) == Right(None), none)
    assert(frame("ROW", Some(-2L), Some(3L)) == Right(Some(FrameSpec(FrameType.Row, -2L, 3L))))
    assert(frame(" range ", Some(-2L), Some(3L)) == Right(Some(FrameSpec(FrameType.Range, -2L, 3L))))
    // an unbounded flag overrides the value beside it
    assert(frame("ROW", Some(-2L), Some(3L), up = true) == Right(Some(FrameSpec(FrameType.Row, UP, 3L))))
    assert(frame("ROW", Some(-2L), Some(3L), uf = true) == Right(Some(FrameSpec(FrameType.Row, -2L, UF))))
    assert(frame("RANGE", up = true, uf = true) == Right(Some(FrameSpec(FrameType.Range, UP, UF))))
    // a missing bound is the current row, as 0 is
    assert(frame("ROW") == Right(Some(FrameSpec(FrameType.Row, 0L, 0L))))
    assert(frame("ROW", Some(0L), Some(0L)) == frame("ROW"))
    assert(frame("RANGE", up = true) == Right(Some(FrameSpec(FrameType.Range, UP, 0L))))
    assert(frame("RANGE", f = Some(5L)) == Right(Some(FrameSpec(FrameType.Range, 0L, 5L))))
    // a value equal to a sentinel is that sentinel
    assert(frame("ROW", Some(Long.MinValue)) == frame("ROW", up = true))
    // an unknown type fails beside the spec's other failures
    assert(DslParser.parseSpec("k", "v:Sideways", "x:first(v,,)", "ROWS").left.map(_.map(_.message)) ==
      Left(Seq("Invalid sort direction 'sideways'. Must be Ascending or Descending.",
        "Invalid frame type 'ROWS'. Must be NONE, ROW or RANGE.")))
  }

  test("order clause parses directions, accumulates bad pairs") {
    val Right(os) = DslParser.parseOrder("a:Ascending, b:Descending")
    assert(os == Seq(OrderSpec("a"), OrderSpec("b", SortDirection.Descending)))
    val Left(fs) = DslParser.parseOrder("a:Sideways,b")
    assert(fs.size == 2)
  }
}
