package graft.search

/** Solr JSON Request API query DSL — the second request front door
  * [8x solr/core/src/java/org/apache/solr/request/json/RequestUtil.java,
  * solr/core/src/java/org/apache/solr/search/JsonQParserPlugin.java,
  * BoolQParserPlugin.java]: a request body like
  * `{"query": {"bool": {"must": [...], "must_not": "dup"}}}` where each
  * clause is either a classic query STRING (handed to the lucene
  * qparser) or a single-key object naming a qparser. Parsed to the same
  * [[Query]] AST as [[QueryParser]], so the whole compiler — rewrite,
  * kernel routing (BMW for pure disjunction/conjunction bags), exact
  * Catalyst lowering — is shared; the JSON face adds zero new scoring
  * code and cannot drift from the string face.
  *
  * Supported qparser objects (the published JSON-DSL core):
  *   - `"…"` (bare string) — classic syntax via [[QueryParser.parse]]
  *     (the DSL's documented shorthand for the lucene qparser)
  *   - `{"lucene": {"query": "…", "df": field?}}` — explicit lucene
  *     qparser; `df` sets the default field of the embedded classic
  *     parse (explicit `field:` prefixes still win)
  *   - `{"bool": {"must": X, "should": X, "must_not": X, "filter": X}}`
  *     where X is one clause or an array of clauses; `filter` clauses
  *     match without scoring (Occur.FILTER), exactly the BoolQParser
  *     contract
  *   - `{"prefix": {"f": field, "query": "…"}}` — PrefixQParser
  *
  * The JSON itself is parsed by a ~60-line recursive-descent reader
  * (objects/arrays/strings/numbers/literals, `\uXXXX` escapes) — no
  * library dependency. Lexical errors carry the input position;
  * semantic errors (unknown qparser/property, missing member) name
  * the offending key instead (the JSON value model does not retain
  * source offsets).
  */
object JsonQueryParser {
  import Query._

  final case class JsonParseException(msg: String, pos: Int)
    extends RuntimeException(s"$msg at position $pos")

  // — minimal JSON value model —
  private sealed trait J
  private final case class JStr(s: String) extends J
  private final case class JNum(d: Double) extends J
  private final case class JBool(b: Boolean) extends J
  private case object JNull extends J
  private final case class JArr(vs: Vector[J]) extends J
  // key order preserved: a qparser object must have exactly one key
  private final case class JObj(fields: Vector[(String, J)]) extends J

  /** Parse a JSON query-DSL value (the request's `"query"` member) to a
    * [[Query]]. `termKey` is threaded to the embedded classic parses so
    * multi-field keying matches the string front door.
    */
  def parse(json: String,
            termKey: (Option[String], String) => String =
              QueryParser.defaultTermKey): Query =
    toQuery(new JP(json).parseTop(), termKey)

  /** Parse a whole JSON request BODY to a [[QueryRequest]] — the
    * envelope the JSON Request API actually posts: `query` (required),
    * `filter` (one clause or an array; each becomes a non-scoring `fq`,
    * exactly `&fq=`), `limit` (rows, default 10). Unknown members
    * error, as the reference rejects unknown top-level JSON keys.
    */
  def parseRequest(json: String,
                   termKey: (Option[String], String) => String =
                     QueryParser.defaultTermKey): QueryRequest = {
    val top = new JP(json).parseTop() match {
      case j: JObj => j
      case other =>
        throw JsonParseException(s"request body must be an object, got $other", 0)
    }
    val o = strictObj(top, Set("query", "filter", "limit"), "request")
    val q = o.fields.find(_._1 == "query").map(_._2)
      .getOrElse(throw JsonParseException("request needs 'query'", 0))
    val fq = o.fields.find(_._1 == "filter").map(_._2) match {
      case None           => Nil
      case Some(JArr(vs)) => vs.map(toQuery(_, termKey))
      case Some(single)   => Seq(toQuery(single, termKey))
    }
    // limit 0 is legal in the reference (rows=0, count-only requests)
    val k = o.fields.find(_._1 == "limit").map(_._2) match {
      case None         => 10
      case Some(JNum(d)) if d == d.toInt.toDouble && d.toInt >= 0 => d.toInt
      case Some(other)  =>
        throw JsonParseException(s"'limit' must be a non-negative integer, got $other", 0)
    }
    QueryRequest(toQuery(q, termKey), fq, k)
  }

  /** An embedded classic parse, with its typed error re-raised as THIS
    * face's exception — the JSON front door surfaces exactly one
    * error type to callers (a syntax error inside a clause string is
    * still a request-body error from their point of view).
    */
  private def classic(s: String,
                      termKey: (Option[String], String) => String): Query =
    try QueryParser.parse(s, termKey)
    catch {
      case e: QueryParser.ParseException =>
        throw JsonParseException(s"bad clause string '$s': ${e.getMessage}", 0)
    }

  private def toQuery(j: J,
                      termKey: (Option[String], String) => String): Query =
    j match {
      case JStr(s) => classic(s, termKey)
      case JObj(Vector((name, body))) => name match {
        case "lucene" =>
          val o = strictObj(body, Set("query", "df"), name)
          // df sets the DEFAULT field of the embedded classic parse —
          // explicit field: prefixes still win, exactly Solr's df
          val tk = o.fields.find(_._1 == "df").map(v => str(v._2)) match {
            case None     => termKey
            case Some(df) =>
              (f: Option[String], t: String) =>
                termKey(f.orElse(Some(df)), t)
          }
          classic(str(member(body, "query", name)), tk)
        case "bool" =>
          // the reference's BoolQParser rejects unknown properties —
          // a misspelled/duplicate occur key must error, never drop a
          // clause
          val o = strictObj(body,
            Set("should", "must", "must_not", "filter"), name)
          def clauses(k: String): Seq[Query] =
            o.fields.find(_._1 == k).map(_._2) match {
              case None             => Nil
              case Some(JArr(vs))   => vs.map(toQuery(_, termKey))
              case Some(single)     => Seq(toQuery(single, termKey))
            }
          Bool(should = clauses("should"), must = clauses("must"),
            mustNot = clauses("must_not"), filter = clauses("filter"))
        case "prefix" =>
          val o = strictObj(body, Set("f", "query"), name)
          val f = o.fields.find(_._1 == "f").map(v => str(v._2))
          val value = str(member(body, "query", name))
          // prefix under a non-default field keys through termKey, the
          // same fieldterm layout the classic parser emits
          Prefix(termKey(f, value))
        case other =>
          throw JsonParseException(s"unknown query type '$other'", 0)
      }
      case JObj(fs) =>
        throw JsonParseException(
          s"query object must have exactly one key, got ${fs.map(_._1).mkString(",")}", 0)
      case other =>
        throw JsonParseException(s"expected string or object, got $other", 0)
    }

  /** A qparser/request body object with ONLY `known` keys, each at most
    * once — unknown and duplicate properties ERROR (the reference
    * rejects unknown JSON properties; a duplicate would silently drop
    * a clause via first-wins lookup).
    */
  private def strictObj(j: J, known: Set[String], ctx: String): JObj = {
    val o = obj(j, ctx)
    o.fields.map(_._1).foreach { k =>
      if (!known(k))
        throw JsonParseException(s"unknown '$ctx' property '$k'", 0)
    }
    val dup = o.fields.map(_._1).diff(o.fields.map(_._1).distinct)
    if (dup.nonEmpty)
      throw JsonParseException(s"duplicate '$ctx' property '${dup.head}'", 0)
    o
  }

  private def obj(j: J, ctx: String): JObj = j match {
    case o: JObj => o
    case _ => throw JsonParseException(s"'$ctx' body must be an object", 0)
  }
  private def member(j: J, k: String, ctx: String): J =
    obj(j, ctx).fields.find(_._1 == k).map(_._2)
      .getOrElse(throw JsonParseException(s"'$ctx' needs member '$k'", 0))
  private def str(j: J): String = j match {
    case JStr(s) => s
    case _ => throw JsonParseException(s"expected string, got $j", 0)
  }

  // — recursive-descent JSON reader —
  private final class JP(s: String) {
    private var i = 0

    def parseTop(): J = {
      val v = value(); ws()
      if (i < s.length) fail(s"trailing input '${s(i)}'")
      v
    }

    private def fail(msg: String) = throw JsonParseException(msg, i)
    private def ws(): Unit =
      while (i < s.length && Character.isWhitespace(s(i))) i += 1
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }

    private def value(): J = {
      ws()
      if (i >= s.length) fail("unexpected end of input")
      s(i) match {
        case '{' => jobj()
        case '[' => jarr()
        case '"' => JStr(string())
        case 't' => lit("true", JBool(true))
        case 'f' => lit("false", JBool(false))
        case 'n' => lit("null", JNull)
        case c if c == '-' || c.isDigit => number()
        case c => fail(s"unexpected '$c'")
      }
    }

    private def lit(word: String, v: J): J =
      if (s.startsWith(word, i)) { i += word.length; v }
      else fail(s"bad literal (expected $word)")

    private def jobj(): J = {
      expect('{'); ws()
      val fs = Vector.newBuilder[(String, J)]
      if (i < s.length && s(i) == '}') { i += 1; return JObj(fs.result()) }
      var done = false
      while (!done) {
        ws(); val k = string(); expect(':'); fs += (k -> value()); ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect('}'); done = true }
      }
      JObj(fs.result())
    }

    private def jarr(): J = {
      expect('['); ws()
      val vs = Vector.newBuilder[J]
      if (i < s.length && s(i) == ']') { i += 1; return JArr(vs.result()) }
      var done = false
      while (!done) {
        vs += value(); ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect(']'); done = true }
      }
      JArr(vs.result())
    }

    private def string(): String = {
      expect('"')
      val b = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (i >= s.length) fail("bad escape")
          s(i) match {
            case '"'  => b += '"'
            case '\\' => b += '\\'
            case '/'  => b += '/'
            case 'b'  => b += '\b'
            case 'f'  => b += '\f'
            case 'n'  => b += '\n'
            case 'r'  => b += '\r'
            case 't'  => b += '\t'
            case 'u' =>
              if (i + 4 >= s.length) fail("bad \\u escape")
              val hex = s.substring(i + 1, i + 5)
              // exactly four ASCII hex DIGITS — parseInt alone would
              // accept a sign, non-ASCII digits such as U+0660, and
              // throw a foreign exception type on junk
              if (!hex.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0))
                fail(s"bad \\u escape '$hex'")
              b += Integer.parseInt(hex, 16).toChar
              i += 4
            case c => fail(s"bad escape '\\$c'")
          }
          i += 1
        } else { b += s(i); i += 1 }
      }
      if (i >= s.length) fail("unterminated string")
      i += 1
      b.result()
    }

    private def number(): J = {
      val start = i
      if (i < s.length && s(i) == '-') i += 1
      while (i < s.length &&
        (s(i).isDigit || "+-.eE".indexOf(s(i).toInt) >= 0)) i += 1
      try JNum(s.substring(start, i).toDouble)
      catch { case _: NumberFormatException => fail("bad number") }
    }
  }
}
