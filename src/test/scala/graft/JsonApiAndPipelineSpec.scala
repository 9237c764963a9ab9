package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.search.{JsonQueryParser, QueryCompiler, QueryParser, Query => Q}

/** Round-5 continuation surfaces: the JSON Request API front door
  * (AST-equality with the classic string face + kernel routing), the
  * /analysis/field stage handler, and the deterministic epoch shuffle
  * (permutation + cross-parallelism identity).
  */
class JsonApiAndPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val dir = "/root/testdata/sf0.001"

  test("json DSL parses to the identical AST as the classic string") {
    val json =
      """{"bool": {
        |  "must": [{"lucene": {"query": "spark"}}, "join OR merge"],
        |  "must_not": "dup",
        |  "should": ["scan^2", {"prefix": {"f": "text", "query": "sl"}}]
        |}}""".stripMargin
    val fromJson = JsonQueryParser.parse(json)
    val fromString =
      QueryParser.parse("spark AND (join OR merge) -dup scan^2 sl*")
    assert(fromJson == fromString)
  }

  test("json bool: filter clauses, single-clause shorthand, nesting") {
    val q = JsonQueryParser.parse(
      """{"bool": {"must": "spark", "filter": ["join", {"bool": {"should": ["a", "b"]}}]}}""")
    assert(q == Q.Bool(
      must = Seq(Q.Term("spark")),
      filter = Seq(Q.Term("join"),
        Q.Bool(should = Seq(Q.Term("a"), Q.Term("b"))))))
    // prefix under a named field keys through the fieldterm layout
    val p = JsonQueryParser.parse("""{"prefix": {"f": "title", "query": "sl"}}""")
    assert(p == Q.Prefix("title" + graft.index.Indexer.FieldSep + "sl"))
  }

  test("json DSL front door routes pure bags to the block-max kernels") {
    val v = IndexCache.documentsIndex(spark, dir)
    val or = QueryCompiler.rewrite(v,
      JsonQueryParser.parse("""{"bool": {"should": ["join", "scan", "window"]}}"""))
    assert(QueryCompiler.kernelChoice(or)
      == Some((Seq("join", "scan", "window"), false)))
    val and = QueryCompiler.rewrite(v,
      JsonQueryParser.parse("""{"bool": {"must": ["spark", "merge"]}}"""))
    assert(QueryCompiler.kernelChoice(and) == Some((Seq("spark", "merge"), true)))
    // a mixed tree (must_not present) keeps the exact path
    val mixed = QueryCompiler.rewrite(v,
      JsonQueryParser.parse("""{"bool": {"should": ["join"], "must_not": "dup"}}"""))
    assert(QueryCompiler.kernelChoice(mixed).isEmpty)
    // the simple face's pure OR/AND folds route to the kernels too
    assert(QueryCompiler.kernelChoice(QueryCompiler.rewrite(v,
      graft.search.SimpleQueryParser.parse("join | scan | window")))
      == Some((Seq("join", "scan", "window"), false)))
    assert(QueryCompiler.kernelChoice(QueryCompiler.rewrite(v,
      graft.search.SimpleQueryParser.parse("spark + merge")))
      == Some((Seq("spark", "merge"), true)))
  }

  test("json reader: escapes, errors with positions") {
    assert(JsonQueryParser.parse("\"sp\\u0061rk\"") == Q.Term("spark"))
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"bool": {}, "lucene": {}}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"knn": {"query": "x"}}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"bool": {"must": "a"}} trailing""")
    }
    // BoolQParser rejects unknown properties: a misspelled occur key
    // must ERROR, never silently drop the clause
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"bool": {"must": "a", "mustNot": "dup"}}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"bool": {"must": "a", "must": "b"}}""")
    }
    // \u escape is exactly four hex DIGITS — signed or junk hex is a
    // parse error (in the parser's own exception type), not a
    // silently-wrong character
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("\"\\u+061\"")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("\"\\uZZZZ\"")
    }
    // non-ASCII digits (U+0660..U+0669) are not hex digits
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("\"\\u" + "\u0660\u0660\u0666\u0661" + "\"")
    }
  }

  test("json strictness: df honored, qparser bodies reject junk keys") {
    // lucene df sets the embedded parse's default field; an explicit
    // field: prefix still wins — Solr's df contract
    val sep = graft.index.Indexer.FieldSep
    assert(JsonQueryParser.parse("""{"lucene": {"df": "title", "query": "sl*"}}""")
      == Q.Prefix("title" + sep + "sl"))
    assert(JsonQueryParser.parse(
      """{"lucene": {"df": "title", "query": "text:spark"}}""")
      == Q.Term("spark"))
    // unknown/duplicate properties in ANY body error — never a silent drop
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"lucene": {"query": "a", "qf": "title"}}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parse("""{"prefix": {"f": "t", "query": "a", "x": 1}}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parseRequest(
        """{"query": "a", "filter": "b", "filter": "c"}""")
    }
    // limit 0 is the reference's count-only request — accepted
    assert(JsonQueryParser.parseRequest("""{"query": "a", "limit": 0}""").k == 0)
  }

  test("json request envelope: query + filter + limit → QueryRequest") {
    val req = JsonQueryParser.parseRequest(
      """{"query": "spark join", "filter": ["merge", {"prefix": {"query": "sl"}}], "limit": 7}""")
    assert(req.q == Q.Bool(should = Seq(Q.Term("spark"), Q.Term("join"))))
    assert(req.fq == Seq(Q.Term("merge"), Q.Prefix("sl")))
    assert(req.k == 7)
    // defaults and strictness
    assert(JsonQueryParser.parseRequest("""{"query": "a"}""").k == 10)
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parseRequest("""{"query": "a", "rows": 5}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parseRequest("""{"filter": "a"}""")
    }
    intercept[JsonQueryParser.JsonParseException] {
      JsonQueryParser.parseRequest("""{"query": "a", "limit": 2.5}""")
    }
  }

  test("simple parser: operators, left-assoc fold, never throws") {
    import graft.search.SimpleQueryParser.{parse => sp}
    // the entry query's documented fold
    assert(sp("spark + (join | merge) -dup sl*") == Q.Bool(
      should = Seq(
        Q.Bool(must = Seq(Q.Term("spark"),
          Q.Bool(should = Seq(Q.Term("join"), Q.Term("merge"))))),
        Q.Prefix("sl")),
      mustNot = Seq(Q.Term("dup"))))
    // left-associative, no precedence beyond parens: a | b + c = (a|b)+c
    assert(sp("a | b + c") == Q.Bool(must = Seq(
      Q.Bool(should = Seq(Q.Term("a"), Q.Term("b"))), Q.Term("c"))))
    // AND-chain flattening
    assert(sp("a + b + c") ==
      Q.Bool(must = Seq(Q.Term("a"), Q.Term("b"), Q.Term("c"))))
    // phrase slop, fuzzy default/cap, trailing-star prefix
    assert(sp("\"hash join\"~2") == Q.Phrase(Seq("hash", "join"), 2))
    assert(sp("merge~1") == Q.Fuzzy("merge", 1))
    assert(sp("merge~") == Q.Fuzzy("merge", 2))
    assert(sp("merge~9") == Q.Fuzzy("merge", 2)) // capped at 2 edits
    assert(sp("sl*") == Q.Prefix("sl"))
    // NEVER throws: unterminated phrase, unmatched paren, dangling ops
    assert(sp("\"unterminated") == Q.Term("unterminated"))
    assert(sp("a )") == Q.Term("a"))
    assert(sp("(a | b") == Q.Bool(should = Seq(Q.Term("a"), Q.Term("b"))))
    assert(sp("a + ") == Q.Term("a"))
    assert(sp("-dup") == Q.Bool(mustNot = Seq(Q.Term("dup"))))
    assert(sp("") == Q.Bool())
    assert(sp("a\\+b") == Q.Term("a+b")) // escape keeps the operator char
    assert(sp("sl*x") == Q.Term("sl*x")) // mid-term '*' stays literal
    // review-pinned tolerances: huge ~N saturates instead of
    // overflowing, a stray "()" never becomes a match-nothing MUST,
    // an operator before a prohibited clause is consumed, escapes work
    // inside phrases, adversarial paren nesting cannot blow the stack
    assert(sp("merge~99999999999") == Q.Fuzzy("merge", 2))
    assert(sp("\"hash join\"~99999999999") ==
      Q.Phrase(Seq("hash", "join"), 999999999))
    assert(sp("spark + ()") == Q.Term("spark"))
    assert(sp("spark + -dup join") ==
      Q.Bool(should = Seq(Q.Term("spark"), Q.Term("join")),
        mustNot = Seq(Q.Term("dup"))))
    assert(sp("\"say \\\" now\"") == Q.Phrase(Seq("say", "\"", "now"), 0))
    assert(sp("(" * 50000 + "a") == Q.Term("a"))
    assert(sp(")" * 1000 + "a" + ")" * 1000) == Q.Term("a"))
    // cross-face consistency: on the shared subset the simple and
    // classic faces must emit semantically identical trees
    assert(sp("spark + merge") == QueryParser.parse("spark AND merge"))
    assert(sp("join | scan") == QueryParser.parse("join OR scan"))
    assert(sp("\"hash join\"~2") == QueryParser.parse("\"hash join\"~2"))
    assert(sp("sl*") == QueryParser.parse("sl*"))
  }

  test("fuzz: simple parser NEVER throws; json throws only its own type") {
    // deterministic seeded fuzz over an operator-heavy alphabet — the
    // whole-input-space pin of the two parsers' error contracts
    val rnd = new scala.util.Random(20260821L)
    val alphabet = "ab01 +|-()\"~*\\{}[]:, é"
    def randomString(maxLen: Int): String = {
      val n = rnd.nextInt(maxLen + 1)
      val b = new StringBuilder
      (0 until n).foreach(_ => b += alphabet(rnd.nextInt(alphabet.length)))
      b.result()
    }
    (1 to 20000).foreach { k =>
      val s = randomString(40)
      // simple face: never throws, on anything
      graft.search.SimpleQueryParser.parse(s)
      // json face: may reject, but ONLY with its own exception type
      try { JsonQueryParser.parse(s); () }
      catch { case _: JsonQueryParser.JsonParseException => () }
      try { JsonQueryParser.parseRequest(s); () }
      catch { case _: JsonQueryParser.JsonParseException => () }
      if (k % 5000 == 0) () // keep the loop obviously bounded
    }
    // classic face: strict by design, but throws ONLY its typed error
    (1 to 20000).foreach { _ =>
      val s = randomString(40)
      try { graft.search.QueryParser.parse(s); () }
      catch { case _: graft.search.QueryParser.ParseException => () }
    }
    // qf specs and the surround parser: only the classic typed error
    (1 to 10000).foreach { _ =>
      val s = randomString(20)
      try { graft.search.QueryParser.parseQf(s); () }
      catch { case _: graft.search.QueryParser.ParseException => () }
      try { graft.search.SurroundParser.parse(s); () }
      catch { case _: graft.search.QueryParser.ParseException => () }
    }
    // math-stream grammar: require-based, so ONLY IllegalArgumentException
    val mathAlphabet = "ab01(),=\"-. "
    (1 to 20000).foreach { _ =>
      val n = rnd.nextInt(31)
      val b = new StringBuilder
      (0 until n).foreach(_ => b += mathAlphabet(rnd.nextInt(mathAlphabet.length)))
      try { operators.MathStreams.parse(b.result()); () }
      catch { case _: IllegalArgumentException => () }
    }
    // mutated near-valid JSON bodies exercise the deeper reader paths
    val template =
      """{"query": {"bool": {"must": ["a", {"lucene": {"query": "b"}}], "filter": "c"}}, "limit": 5}"""
    (1 to 5000).foreach { _ =>
      val pos = rnd.nextInt(template.length)
      val ch = alphabet(rnd.nextInt(alphabet.length))
      val mutated = template.substring(0, pos) + ch + template.substring(pos + 1)
      try { JsonQueryParser.parseRequest(mutated); () }
      catch { case _: JsonQueryParser.JsonParseException => () }
    }
  }

  test("fieldStages: stop tokens end after lowercase; porter rewrites") {
    assert(operators.AnalysisOps.fieldStages("the")
      == Seq((1, "tokenizer", "the"), (2, "lowercase", "the")))
    assert(operators.AnalysisOps.fieldStages("query")
      == Seq((1, "tokenizer", "query"), (2, "lowercase", "query"),
        (3, "stop", "query"), (4, "porter", analysis.Porter.stem("query"))))
    assert(operators.AnalysisOps.fieldStages("query").last._3 == "queri")
  }

  test("analysis_field_stages covers the corpus vocabulary per stage") {
    val rows = operators.AnalysisOps.analysisStages(spark, dir).collect()
    val byTerm = rows.groupBy(_.getString(0))
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .where(length(col("t")) > 0).distinct()
      .collect().map(_.getString(0)).toSet
    assert(byTerm.keySet == vocab)
    vocab.foreach { t =>
      val expect = operators.AnalysisOps.fieldStages(t)
        .map { case (o, st, tok) => (o, st, tok) }.toSet
      val got = byTerm(t)
        .map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSet
      assert(got == expect, s"stage rows for '$t'")
    }
  }

  test("atomic add/add-distinct/remove modifier algebra") {
    val v = IndexCache.documentsIndex(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = search.MoreQueries
      .atomicAddRemove(spark, v, docs, "spark", "merge", "dup")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    val flags = docs.select(col("doc_id"), col("source"), col("lang"),
        split(col("text"), " ").as("ts")).collect().map { r =>
      val ts = r.getSeq[String](3).toSet
      r.getLong(0) -> (r.getString(1), r.getString(2),
        ts("spark"), ts("merge"), ts("dup"))
    }.toMap
    assert(out.keySet == flags.keySet)
    flags.foreach { case (id, (src, lang, hasS, hasM, hasD)) =>
      var tags = Vector(src, lang)
      if (hasS) tags :+= "hot"                        // add
      if (hasM && !tags.contains("hot")) tags :+= "hot" // add-distinct
      if (hasD) tags = tags.filterNot(_ == lang)      // remove (all)
      assert(out(id) == (tags.size.toLong, tags.mkString(" ")),
        s"doc $id")
      // the distinct discriminator: never two 'hot's
      assert(out(id)._2.split(" ").count(_ == "hot") <= 1)
    }
  }

  test("geo_polygon_holes: hole is discriminating and strictly nested") {
    val outer = operators.Functions.geoPolygon(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val withHoles = operators.Functions.geoPolygonHoles(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // holes only ever REMOVE points, and must remove at least one
    // (otherwise the fixture doesn't exercise the hole path)
    assert(withHoles.subsetOf(outer))
    assert(withHoles.size < outer.size,
      s"hole removed nothing (outer=${outer.size})")
    // every removed point ray-casts inside the hole ring
    val removed = outer -- withHoles
    def inside(ring: Seq[(Int, Int)], lat: Double, lon: Double): Boolean =
      ring.indices.count { i =>
        val (y1, x1) = ring(i)
        val (y2, x2) = ring((i + 1) % ring.length)
        ((y1 > lat) != (y2 > lat)) &&
          lon < (x2 - x1).toDouble * (lat - y1) / (y2 - y1).toDouble + x1
      } % 2 == 1
    removed.foreach { ck =>
      val lat = (ck % 180) - 90 + 0.5
      val lon = ((ck * 7) % 360) - 180 + 0.5
      assert(inside(operators.Functions.HoleVerts, lat, lon), s"cust $ck")
    }
  }

  test("epoch_shuffle: exact permutation, shard rule, parallelism-proof") {
    val out = operators.TrainingData.epochShuffle(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == n)
    assert(out.map(_.getLong(1)).sorted.toSeq == (0L until n))
    assert(out.forall(r => r.getLong(2) == r.getLong(1) % 8))
    // the permutation is a pure function of the data, not of the
    // partitioning: the docID-determinism invariant applied to order
    val m8 = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m3 = operators.TrainingData.epochShuffle(spark, dir, parts = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m3 == m8)
  }
}
