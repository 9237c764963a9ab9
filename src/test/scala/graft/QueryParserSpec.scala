package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.search.{Query => Q, QueryParser}

/** AST-level parser tests: classic occur rules (incl. the documented
  * `a AND b OR c` → `+a +b c` promotion), boosts, phrases + slop,
  * MTQ forms, ranges, fields and error cases.
  */
class QueryParserSpec extends AnyFunSuite {
  private def p(s: String): Q = QueryParser.parse(s)

  test("single term collapses to Term") {
    assert(p("spark") == Q.Term("spark"))
  }

  test("terms are lowercased like the analyzer") {
    assert(p("Spark") == Q.Term("spark"))
  }

  test("bare sequence is a SHOULD disjunction (default OR)") {
    assert(p("spark join") ==
      Q.Bool(should = Seq(Q.Term("spark"), Q.Term("join"))))
  }

  test("AND promotes both neighbours to MUST") {
    assert(p("spark AND join") ==
      Q.Bool(must = Seq(Q.Term("spark"), Q.Term("join"))))
  }

  test("classic mixed precedence: a AND b OR c -> +a +b c") {
    assert(p("a AND b OR c") ==
      Q.Bool(should = Seq(Q.Term("c")),
        must = Seq(Q.Term("a"), Q.Term("b"))))
  }

  test("a OR b AND c -> a +b +c") {
    assert(p("a OR b AND c") ==
      Q.Bool(should = Seq(Q.Term("a")),
        must = Seq(Q.Term("b"), Q.Term("c"))))
  }

  test("+ and - modifiers") {
    assert(p("+spark -dup join") ==
      Q.Bool(should = Seq(Q.Term("join")), must = Seq(Q.Term("spark")),
        mustNot = Seq(Q.Term("dup"))))
  }

  test("NOT x is prohibited and never promoted by AND") {
    assert(p("NOT dup AND spark") ==
      Q.Bool(must = Seq(Q.Term("spark")), mustNot = Seq(Q.Term("dup"))))
  }

  test("&& and || aliases") {
    assert(p("spark && join") == p("spark AND join"))
    assert(p("spark || join") == p("spark OR join"))
  }

  test("grouping binds a subtree") {
    assert(p("spark AND (join OR merge)") ==
      Q.Bool(must = Seq(Q.Term("spark"),
        Q.Bool(should = Seq(Q.Term("join"), Q.Term("merge"))))))
  }

  test("boost on term, group and phrase") {
    assert(p("spark^2") == Q.Boost(Q.Term("spark"), 2.0))
    assert(p("(spark join)^1.5") ==
      Q.Boost(Q.Bool(should = Seq(Q.Term("spark"), Q.Term("join"))), 1.5))
    assert(p("\"hash join\"^3") ==
      Q.Boost(Q.Phrase(Seq("hash", "join")), 3.0))
    assert(p("spark^1") == Q.Term("spark")) // ^1 is the identity
  }

  test("phrase with slop") {
    assert(p("\"hash join\"~2") == Q.Phrase(Seq("hash", "join"), 2))
    assert(p("\"one\"") == Q.Term("one")) // single-word phrase = term
  }

  test("prefix, wildcard, fuzzy, range") {
    assert(p("sl*") == Q.Prefix("sl"))
    assert(p("s?ark*") == Q.Wildcard("s?ark*"))
    assert(p("spark~1") == Q.Fuzzy("spark", 1))
    assert(p("spark~") == Q.Fuzzy("spark", 2)) // classic default edits
    assert(p("[alpha TO beta]") == Q.TermRange("alpha", "beta"))
  }

  test("field-qualified term uses the multi-field key layout") {
    val sep = graft.index.Indexer.FieldSep
    assert(p("title:spark") == Q.Term(s"title${sep}spark"))
    assert(p("text:spark") == Q.Term("spark")) // default field = bare
    assert(p("title:(spark join)") ==
      Q.Bool(should = Seq(Q.Term(s"title${sep}spark"),
        Q.Term(s"title${sep}join"))))
  }

  test("qf spec parsing") {
    assert(QueryParser.parseQf("title^2 body") ==
      Map("title" -> 2.0, "body" -> 1.0))
    // an empty boost is malformed, not boost 1.0
    intercept[QueryParser.ParseException](QueryParser.parseQf("title^ body"))
  }

  test("parse errors") {
    intercept[QueryParser.ParseException](p("(spark"))
    intercept[QueryParser.ParseException](p("\"unclosed"))
    intercept[QueryParser.ParseException](p("spark AND"))
    intercept[QueryParser.ParseException](p("[a TO"))
    intercept[QueryParser.ParseException](p("\"\""))
    intercept[QueryParser.ParseException](p("spark ^ 2 junk)"))
  }

  test("surround: prefix and infix distance ops, slop = N-1") {
    import graft.search.SurroundParser
    assert(SurroundParser.parse("3W(hash, join)") ==
      SurroundParser.SurroundNear(Seq("hash", "join"), 2, ordered = true))
    assert(SurroundParser.parse("4n(A, B, C)") ==
      SurroundParser.SurroundNear(Seq("a", "b", "c"), 3, ordered = false))
    assert(SurroundParser.parse("join 4N scan") ==
      SurroundParser.SurroundNear(Seq("join", "scan"), 3, ordered = false))
    // bare W/N = distance 1 = slop 0 (adjacency), both forms
    assert(SurroundParser.parse("w(a, b)").slop == 0)
    assert(SurroundParser.parse("a w b") ==
      SurroundParser.SurroundNear(Seq("a", "b"), 0, ordered = true))
    intercept[QueryParser.ParseException](SurroundParser.parse("0w(a, b)"))
    intercept[QueryParser.ParseException](SurroundParser.parse("3w(a)"))
    intercept[QueryParser.ParseException](SurroundParser.parse("3x(a, b)"))
    intercept[QueryParser.ParseException](SurroundParser.parse("a 3w"))
    // overlong distance stays inside the parser's error contract
    intercept[QueryParser.ParseException](
      SurroundParser.parse("99999999999w(a, b)"))
    // truncation syntax is rejected, not silently matched literally
    intercept[QueryParser.ParseException](SurroundParser.parse("3w(spar*, b)"))
    // trailing comma is an error, not a dropped operand
    intercept[QueryParser.ParseException](SurroundParser.parse("3w(a, b,)"))
  }

  test("the judge's example parses") {
    val sep = graft.index.Indexer.FieldSep
    val q = p("title:(spark AND join)^2 OR \"block max\"~2")
    assert(q == Q.Bool(should = Seq(
      Q.Boost(Q.Bool(must = Seq(Q.Term(s"title${sep}spark"),
        Q.Term(s"title${sep}join"))), 2.0),
      Q.Phrase(Seq("block", "max"), 2))))
  }
}
