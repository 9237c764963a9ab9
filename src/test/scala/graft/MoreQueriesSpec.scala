package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.index.Indexer
import graft.search.{DoubleOracle, MoreQueries}
import graft.synth.CorpusSynth

/** Differential tests of the wider query zoo vs brute-force
  * recomputation from the raw corpus (SURVEY.md §2.3).
  */
class MoreQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val N = 1200L

  lazy val docs: Array[(Long, String)] = {
    import spark.implicits._
    CorpusSynth.corpusWithIds(spark, N, seed = 21L)
      .as[(Long, String, String)].collect().map(t => (t._1, t._3))
  }
  lazy val view = {
    val v = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, CorpusSynth.corpusWithIds(spark, N, seed = 21L)),
      segSize = 256L).persisted()
    v.postings.count()
    v
  }

  private def bruteDocs(p: String => Boolean): Set[Long] =
    docs.filter { case (_, text) =>
      Analyzer.tokenize(text).exists(t => p(t.term))
    }.map(_._1).toSet

  private def collected(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("prefix / wildcard / fuzzy / range / in-set expansion + doc sets") {
    assert(collected(MoreQueries.matchingDocs(spark, view,
      MoreQueries.prefixTerms(view, "w00"))) == bruteDocs(_.startsWith("w00")))
    assert(collected(MoreQueries.matchingDocs(spark, view,
      MoreQueries.wildcardTerms(view, "w1?3?"))) ==
      bruteDocs(t => t.matches("^w1.3.$")))
    val inSet = Set("w0005", "w0123", "nosuch")
    assert(collected(MoreQueries.matchingDocs(spark, view, inSet.toSeq)) ==
      bruteDocs(inSet))
    assert(collected(MoreQueries.matchingDocs(spark, view,
      MoreQueries.rangeTerms(view, "w0010", "w0013"))) ==
      bruteDocs(t => t >= "w0010" && t < "w0013"))
    val fz = MoreQueries.fuzzyTerms(view, "w0100", 1)
    assert(fz.contains("w0100") && fz.size > 1) // edit-1 neighbors like w0io0
  }

  test("phrase match equals brute-force adjacency on raw positions") {
    val terms = Seq("w0000", "w0001")
    val got = MoreQueries.phraseMatch(spark, view, terms)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val expected = docs.flatMap { case (id, text) =>
      val toks = Analyzer.tokenize(text)
      val pos0 = toks.filter(_.term == terms(0)).map(_.pos).toSet
      val pos1 = toks.filter(_.term == terms(1)).map(_.pos).toSet
      val tf = pos0.count(p => pos1.contains(p + 1))
      if (tf > 0) Some(id -> tf) else None
    }.toMap
    assert(got == expected)
    assert(expected.nonEmpty, "test phrase should occur in corpus")
  }

  test("sloppy phrase equals brute-force position-distance on raw positions") {
    val terms = Seq("w0000", "w0001")
    for (slop <- Seq(0, 1, 2, 4)) {
      val got = MoreQueries.phraseMatch(spark, view, terms, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val pos0 = toks.filter(_.term == terms(0)).map(_.pos)
        val pos1 = toks.filter(_.term == terms(1)).map(_.pos).toSet
        val tf = pos0.count(p => pos1.exists(q => math.abs((q - 1) - p) <= slop))
        if (tf > 0) Some(id -> tf) else None
      }.toMap
      assert(got == expected, s"slop=$slop")
      if (slop > 0) {
        // slop matches are a superset of the exact matches
        val exact = MoreQueries.phraseMatch(spark, view, terms, 0)
          .collect().map(_.getLong(0)).toSet
        assert(exact.subsetOf(got.keySet))
      }
    }
  }

  test("sloppy phrase: reversed adjacent order needs slop 2") {
    import spark.implicits._
    val tiny = Seq((0L, "u", "beta alpha gamma"), (1L, "u", "alpha beta gamma"))
      .toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    def ids(slop: Int) = MoreQueries.phraseMatch(spark, v, Seq("alpha", "beta"), slop)
      .collect().map(_.getLong(0)).toSet
    assert(ids(0) == Set(1L))
    assert(ids(1) == Set(1L))  // reversed order is distance 2, not 1
    assert(ids(2) == Set(0L, 1L))
  }

  test("3-term sloppy phrase equals raw-position brute force on the corpus") {
    val terms = Seq("w0000", "w0001", "w0002")
    for (slop <- Seq(1, 3)) {
      val got = MoreQueries.phraseMatch(spark, view, terms, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val lists = terms.map(t => toks.filter(_.term == t).map(_.pos).toArray)
        if (lists.exists(_.isEmpty)) None
        else {
          // anchor matches iff SOME selection has adjusted spread <= slop
          val tf = lists.head.count { p0 =>
            lists(1).exists { p1 =>
              lists(2).exists { p2 =>
                val adj = Seq(p0, p1 - 1, p2 - 2)
                adj.max - adj.min <= slop
              }
            }
          }
          if (tf > 0) Some(id -> tf) else None
        }
      }.toMap
      assert(got == expected, s"slop=$slop")
    }
  }

  test("3-term sloppy phrase: budget is SHARED across slots, not per-slot") {
    import spark.implicits._
    // adjusted positions: alpha 1, beta -1, gamma 3 -> spread 4. Per-slot
    // independent +-2 windows would match; the shared budget needs 4.
    val tiny = Seq((0L, "u", "beta alpha x x x gamma")).toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    def ids(slop: Int) = MoreQueries
      .phraseMatch(spark, v, Seq("alpha", "beta", "gamma"), slop)
      .collect().map(_.getLong(0)).toSet
    assert(ids(2) == Set.empty[Long])
    assert(ids(3) == Set.empty[Long])
    assert(ids(4) == Set(0L))
  }

  test("sloppy phrase with a repeated term needs DISTINCT occurrences") {
    import spark.implicits._
    val tiny = Seq((0L, "u", "alpha beta"), (1L, "u", "alpha x alpha"))
      .toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    val got = MoreQueries.phraseMatch(spark, v, Seq("alpha", "alpha"), 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // doc 0 has ONE alpha: the second slot may not reuse the anchor
    // occurrence; doc 1 matches only at anchor 0 (anchor 2's partner
    // would be at adjusted -1, spread 3 > 1)
    assert(got == Map(1L -> 1))
  }

  test("sloppyAnchorTf equals brute-force distinct-selection min-spread") {
    val rnd = new scala.util.Random(42)
    def brute(slots: Seq[(String, Array[Int], Int)], slop: Int): Int = {
      val anchor = slots.head
      anchor._2.count { p0 =>
        def rec(rest: List[(String, Array[Int], Int)],
                used: Map[String, Set[Int]], lo: Int, hi: Int): Boolean =
          rest match {
            case Nil => hi - lo <= slop
            case (t, ps, off) :: tail =>
              ps.exists { p =>
                !used.getOrElse(t, Set.empty[Int]).contains(p) && {
                  val adj = p - off
                  val nlo = math.min(lo, adj); val nhi = math.max(hi, adj)
                  nhi - nlo <= slop &&
                    rec(tail, used + (t -> (used.getOrElse(t, Set.empty[Int]) + p)),
                      nlo, nhi)
                }
              }
          }
        rec(slots.tail.toList, Map(anchor._1 -> Set(p0)), p0, p0)
      }
    }
    for (iter <- 1 to 300) {
      val nTerms = 1 + rnd.nextInt(3) // vocabulary "a".."c"
      val vocab = (0 until nTerms).map(i => ('a' + i).toChar.toString)
      val posOf = vocab.map { t =>
        t -> Array.fill(1 + rnd.nextInt(4))(rnd.nextInt(12)).distinct.sorted
      }.toMap
      val k = 2 + rnd.nextInt(3)
      val termSeq = Seq.fill(k)(vocab(rnd.nextInt(nTerms)))
      val slots = termSeq.zipWithIndex.map { case (t, off) => (t, posOf(t), off) }
      val slop = rnd.nextInt(5)
      if (slop > 0) {
        val got = MoreQueries.sloppyAnchorTf(slots, slop)
        val want = brute(slots, slop)
        assert(got == want, s"iter=$iter slots=${slots.map { case (t, ps, o) =>
          (t, ps.toSeq, o) }} slop=$slop got=$got want=$want")
      }
    }
  }

  test("block join over indexed children where child and parent text differ") {
    import spark.implicits._
    val pt = graft.index.NestedBlocks.ParentTerm
    // hand-built nested blocks (3 contiguous docs each, parent last):
    // child text and parent text deliberately DIFFER per block
    val nested = Seq(
      (0L, "0:0", "alpha beta"),          // block 0 children
      (1L, "0:1", "gamma delta"),
      (2L, "0", s"zeta $pt"),             // parent 0: no child term at all
      (3L, "1:0", "beta gamma"),          // block 1 children
      (4L, "1:1", "delta"),
      (5L, "1", s"alpha $pt"),            // parent 1 contains alpha; kids don't
      (6L, "2:0", "alpha"),               // block 2: alpha and beta split
      (7L, "2:1", "beta"),                //   across two children
      (8L, "2", s"alpha beta $pt"),       // parent 2 has BOTH at parent level
      (9L, "3:0", "alpha beta beta"),     // block 3: BOTH children match
      (10L, "3:1", "beta alpha"),
      (11L, "3", s"x $pt")
    ).toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, nested), 3L * 16)

    // {!parent}: blocks 0 and 3 have a CHILD containing both terms;
    // block 2's parent-level match must NOT count (children split the
    // conjunction)
    val par = MoreQueries.blockJoinParents(spark, v, "alpha", "beta")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(par == Set((0L, 1L), (3L, 2L)))

    // ScoreMode.Max: the best matching child's tf-sum per block
    val sc = MoreQueries.blockJoinScored(spark, v, "alpha", "beta")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sc == Set((0L, 2L), (3L, 3L)))

    // ScoreMode.Total + Avg: block 3 aggregates BOTH children (3 + 2)
    val sa = MoreQueries.blockJoinScoredAvg(spark, v, "alpha", "beta")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(sa == Set((0L, 1L, 2L, 20000L), (3L, 2L, 5L, 25000L)))

    // {!child}: parents CONTAINING alpha are 1 and 2 (parent-text match,
    // independent of child text); their children come back with their own
    // indexed lengths
    val kids = MoreQueries.blockJoinChildren(spark, v, "alpha")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(kids == Set((1L, 0, 2), (1L, 1, 1), (2L, 0, 1), (2L, 1, 1)))

    // uniqueBlock(_root_): parents containing alpha are blocks 1 and 2;
    // 'beta' appears in children of BOTH blocks, everything else in one
    val ub = MoreQueries.blockJoinFacetUniqueBlock(spark, v, "alpha", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ub == Seq(("beta", 2L), ("alpha", 1L), ("delta", 1L), ("gamma", 1L)))

    // toParent facet domain: every block has a child containing 'beta'
    // (docs 0, 3, 7, 9) → facet the four parents' OWN terms (zeta /
    // alpha / alpha beta / x), sentinel excluded, ranked by parent df
    // then term
    val pf = MoreQueries.blockJoinParentFacet(spark, v, "beta", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pf == Seq(("alpha", 2L), ("beta", 1L), ("x", 1L), ("zeta", 1L)))

    // ScoreMode.Min: the WORST matching child gates the parent —
    // block 3's children score 3 and 2, so Min = 2 where Max was 3
    val mn = MoreQueries.blockJoinScoredMin(spark, v, "alpha", "beta")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mn == Set((0L, 2L), (3L, 2L)))

    // [child] transformer: parents matching 'alpha' are 1 and 2; each
    // comes back with its FIRST child (by child ord) containing 'beta'
    val ct = MoreQueries.childTransform(spark, v, "alpha", "beta", 10, 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(ct == Set((1L, 1L, 0L, 1L), (2L, 1L, 1L, 1L)))
  }

  test("multivalued index: phrase never matches across the value gap") {
    import spark.implicits._
    val gap = 100
    // the joinValues composition is proven position-identical to the
    // reference multivalued analysis in AnalyzerSpec
    val corpus = Seq(
      // phrase inside one value → matches
      (0L, "0", graft.analysis.Analyzer.joinValues(Seq("alpha beta x", "y"), gap)),
      // alpha ends value 0, beta starts value 1 → must NOT match
      (1L, "1", graft.analysis.Analyzer.joinValues(Seq("x alpha", "beta y"), gap)),
      // matches in value 1
      (2L, "2", graft.analysis.Analyzer.joinValues(Seq("x", "alpha beta"), gap))
    ).toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, corpus), 16)
    val hits = MoreQueries.phraseMatch(spark, v, Seq("alpha", "beta"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    assert(hits == Set((0L, 1L), (2L, 1L)))
    // the padding must not leak into norms: dl counts indexed terms only
    val dls = v.docmeta.collect().map(d => d.doc_id -> d.dl).toMap
    assert(dls == Map(0L -> 4, 1L -> 4, 2L -> 3))
  }

  test("subquery transformer equals a brute-force per-parent evaluation") {
    val dir = "/root/testdata/sf0.001"
    val v = IndexCache.documentsIndex(spark, dir)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val got = MoreQueries.subqueryTransform(spark, v, corpus,
        Seq("spark", "join"), "merge", 10, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // brute twin: top-10 parents, then per parent the top-2 same-source
    // docs by tokenized tf of the sub term
    val top = graft.search.ExactSearch
      .topK(spark, v, Seq("spark", "join"), 10, graft.search.DoubleOracle)
      .collect().map(_.getLong(0)).toSet
    val rows = corpus.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySource = rows.groupBy(_._2)
    val want = for {
      (pid, src, _) <- rows if top(pid)
      subs = bySource(src)
        .map { case (id, _, t) =>
          (id, graft.analysis.Analyzer.tokenize(t).count(_.term == "merge")) }
        .filter(_._2 > 0)
        .sortBy { case (id, tf) => (-tf, id) }.take(2).zipWithIndex
      ((sid, tf), i) <- subs
    } yield (pid, (i + 1).toLong, sid, tf.toLong)
    assert(got == want.toSet)
    assert(got.nonEmpty)
  }

  test("local-stats sharding: one shard == the global answer; many differ") {
    val dir = "/root/testdata/sf0.001"
    val v = IndexCache.documentsIndex(spark, dir)
    def run(shardSize: Long) =
      MoreQueries.shardLocalIdfTopK(spark, v, Seq("spark", "join"),
          shardSize, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a single all-covering shard's "local" stats ARE the global stats
    val global = graft.search.ExactSearch
      .topK(spark, v, Seq("spark", "join"), 10, graft.search.DoubleOracle)
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 10000))).toSeq
    assert(run(1L << 40) == global)
    // small shards: same semantics, locally-consistent but score-skewed
    val local = run(64L)
    assert(local.size == 10 && local.map(_._1).distinct.size == 10)
  }

  test("docvalues update: newest generation wins per doc, no reindex") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "0", "alpha beta"),  // both updates touch it: gen-1 wins
      (1L, "1", "alpha"),       // gen-0 only
      (2L, "2", "beta gamma"),  // gen-1 only
      (3L, "3", "gamma")        // untouched: absent from the result
    ).toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, corpus), 16)
    val out = MoreQueries.docValuesUpdate(spark, v,
        Seq("alpha" -> 10L, "beta" -> 20L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 20L, 2L), (1L, 10L, 1L), (2L, 20L, 2L)))
  }

  test("leading wildcard: reversed-dictionary prefix == brute-force suffix") {
    val suffix = Analyzer.tokenize(docs.head._2).head.term.takeRight(2)
    assert(collected(MoreQueries.matchingDocs(spark, view,
      MoreQueries.leadingWildcardTerms(view, suffix))) ==
      bruteDocs(_.endsWith(suffix)))
  }

  test("infix suggest: gram cut + contains verify == plain contains, weight-ranked") {
    val frag = docs.iterator.flatMap(d => Analyzer.tokenize(d._2))
      .find(_.term.length >= 4).get.term.take(3)
    val weights = docs.flatMap(d => Analyzer.tokenize(d._2).map(_.term))
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    val expect = weights.filter(_._1.contains(frag)).toSeq
      .sortBy { case (t, w) => (-w, t) }.take(10)
    val got = graft.search.Suggest.suggestInfix(spark, view, frag, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("free-text suggester: successor ranking equals brute-force bigrams") {
    import spark.implicits._
    val prev = "w0000"
    val expect = docs.toSeq.flatMap { case (_, text) =>
      val w = text.split(' ').filter(_.nonEmpty)
      w.sliding(2).collect { case Array(a, b) if a == prev => b }.toSeq
    }.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(6)
    val corpus = docs.toSeq.toDF("doc_id", "text")
    val got = graft.search.Suggest.freeText(spark, corpus, prev, 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(expect.nonEmpty && got == expect)
  }

  test("word-break: splits only non-dictionary compounds into dictionary halves") {
    val dfMap: Map[String, Long] = docs.toSeq
      .flatMap { case (id, t) => Analyzer.tokenize(t).map(tok => (tok.term, id)) }
      .distinct.groupBy(_._1).map { case (t, xs) => (t, xs.size.toLong) }
    val Seq(t1, t2) = Seq("w0000", "w0001")
    assert(dfMap(t1) >= 2 && dfMap(t2) >= 2)
    val compound = t1 + t2
    assert(!dfMap.contains(compound))
    val expect = (1 until compound.length).flatMap { i =>
      val (l, r) = compound.splitAt(i)
      for (dl <- dfMap.get(l); dr <- dfMap.get(r); if dl >= 2 && dr >= 2)
        yield (compound, s"$l $r", math.min(dl, dr))
    }.sortBy { case (_, sug, f) => (-f, sug) }
    // the dictionary term t1 itself must NOT be broken
    val got = graft.search.Suggest.wordBreak(spark, view,
        Seq(compound, t1), 2L, 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(expect.nonEmpty && got == expect)
  }

  test("rank-feature saturation: BM25 + w*(f/(f+pivot)), differential") {
    import spark.implicits._
    import graft.search.ExactSearch
    val terms = Seq("w0000", "w0002")
    val weight = 2.5; val pivot = 300.0
    val f: Map[Long, Double] =
      docs.map { case (id, _) => (id, ((id % 7) * 100).toDouble) }.toMap
    val expect = ExactSearch.scored(spark, view, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .map { case (id, s) => (id, s + weight * (f(id) / (f(id) + pivot))) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .map { case (id, s) => (id, math.round(s * 10000)) }.toSeq
    val featDf = docs.map { case (id, _) => (id, f(id)) }.toSeq.toDF("doc_id", "f")
    val got = MoreQueries.rankFeatureTopK(spark, view, featDf, terms,
        weight, pivot, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("highlight picks the BEST passage, not the first substring match") {
    import spark.implicits._
    val tiny = Seq(
      // first match at pos 0, but the best window (2-term coverage)
      // starts at 'beta' near the end; 'alphabet' must NOT match 'alpha'
      (0L, "u", "alpha alphabet x1 x2 x3 x4 x5 x6 x7 beta alpha"))
      .toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    val got = MoreQueries.highlightPassages(spark, v, tiny,
        Seq("alpha", "beta"), 1, 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, "beta alpha", 2002L)))
  }

  test("phrase across a removed stopword does NOT match (gap preserved)") {
    import spark.implicits._
    val tiny = Seq((0L, "u", "alpha the beta"), (1L, "u", "alpha beta"))
      .toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    val got = MoreQueries.phraseMatch(spark, v, Seq("alpha", "beta"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
  }

  test("scored phrase: BM25(phrase_tf) with summed slot idfs, both modes agree on rank") {
    import graft.search.{ExactSearch, Float32Lucene, QueryScorers}
    val terms = Seq("w0000", "w0001")
    // hand-recompute: weight = idf(w0000) + idf(w0001), freq = phrase_tf
    val sc = QueryScorers(view, terms, DoubleOracle)
    val w = sc.phraseWeightD(terms)
    assert(w > 0)
    val ptf = MoreQueries.phraseMatch(spark, view, terms)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val meta = view.docmeta.collect().map(m => m.doc_id -> m.lossy_dl).toMap
    val expected = ptf.map { case (d, tf) =>
      d -> w * tf / (tf + sc.k1d * (1 - sc.bd + sc.bd * meta(d) / sc.avgdlD))
    }
    val got = MoreQueries.phraseScoredTopK(spark, view, terms, 0,
      Int.MaxValue, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (d, s) =>
      assert(math.abs(s - expected(d)) <= 1e-12 * math.max(1.0, expected(d)))
    }
    // the MUST-scored composition path agrees with a sum of the parts
    val both = ExactSearch.scored(spark, view, Seq("w0002"), DoubleOracle)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(both.nonEmpty)
    // float32 mode ranks identically on this corpus
    val r64 = MoreQueries.phraseScoredTopK(spark, view, terms, 0, 10, DoubleOracle)
      .collect().map(_.getLong(0)).toList
    val r32 = MoreQueries.phraseScoredTopK(spark, view, terms, 0, 10, Float32Lucene)
      .collect().map(_.getLong(0)).toList
    assert(r64 == r32)
  }

  test("ordered span-near equals brute force; reversed order never matches") {
    val terms = Seq("w0000", "w0001")
    for (slop <- Seq(0, 2, 5)) {
      val got = MoreQueries.spanNearOrdered(spark, view, terms, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val p0 = toks.filter(_.term == terms(0)).map(_.pos)
        val p1 = toks.filter(_.term == terms(1)).map(_.pos).toSet
        val tf = p0.count(a => p1.exists(b => b > a && b - a - 1 <= slop))
        if (tf > 0) Some(id -> tf) else None
      }.toMap
      assert(got == expected, s"slop=$slop")
    }
    // strict order: "beta alpha" must not match span(alpha, beta, 0)
    import spark.implicits._
    val tiny = Seq((0L, "u", "beta alpha"), (1L, "u", "alpha beta"))
      .toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    assert(MoreQueries.spanNearOrdered(spark, v, Seq("alpha", "beta"), 0)
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("unordered span-near equals brute force over all tuples; order-free") {
    val terms = Seq("w0000", "w0001")
    for (slop <- Seq(0, 1, 3, 6)) {
      val got = MoreQueries.spanNearUnordered(spark, view, terms, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val lists = terms.map(t => toks.filter(_.term == t).map(_.pos))
        if (lists.exists(_.isEmpty)) None
        else {
          // brute force: anchor on every first-term position; any tuple
          // (one occurrence per term) containing it within the width
          // budget counts
          val tf = lists.head.count { p =>
            lists.tail.foldLeft(Seq((p, p))) { (acc, ps) =>
              for ((mn, mx) <- acc; q <- ps) yield (math.min(mn, q), math.max(mx, q))
            }.exists { case (mn, mx) => mx - mn + 1 - terms.size <= slop }
          }
          if (tf > 0) Some(id -> tf) else None
        }
      }.toMap
      assert(got == expected, s"slop=$slop")
      if (slop >= 3) assert(expected.nonEmpty)
    }
    // order-free: reversed term order gives the same doc set (anchors
    // differ, so compare matching docs)
    val fwd = MoreQueries.spanNearUnordered(spark, view, terms, 4)
      .collect().map(_.getLong(0)).toSet
    val rev = MoreQueries.spanNearUnordered(spark, view, terms.reverse, 4)
      .collect().map(_.getLong(0)).toSet
    assert(fwd == rev)
    // and it is a superset of the ordered variant at the same slop:
    // ordered gap (p_last - p_first - (n-1)) equals width-minus-length
    // for in-order windows
    val ordered = MoreQueries.spanNearOrdered(spark, view, terms, 4)
      .collect().map(_.getLong(0)).toSet
    assert(ordered.subsetOf(fwd))
  }

  test("three-term unordered span: neighbor enumeration is exact") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "u", "alpha beta gamma"),          // width 3-3=0
      (1L, "u", "gamma beta alpha"),          // any order
      (2L, "u", "alpha x x beta gamma"),      // width 5-3=2
      (3L, "u", "alpha x x x x beta gamma"),  // width 7-3=4
      (4L, "u", "alpha beta delta")           // gamma missing
    ).toDF("doc_id", "url", "text")
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, tiny), 16L)
    def ids(slop: Int) =
      MoreQueries.spanNearUnordered(spark, v, Seq("alpha", "beta", "gamma"), slop)
        .collect().map(_.getLong(0)).toSet
    assert(ids(0) == Set(0L, 1L))
    assert(ids(2) == Set(0L, 1L, 2L))
    assert(ids(4) == Set(0L, 1L, 2L, 3L))
  }

  test("more-like-this: seed excluded, seed's own terms drive the ranking") {
    val seedText = docs.find(_._1 == 0L).get._2
    val got = MoreQueries.moreLikeThisTopK(spark, view, 0L, seedText, 10, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got.nonEmpty && !got.exists(_._1 == 0L))
    assert(got.map(_._2) == got.map(_._2).sorted.reverse) // score desc
  }

  test("early-terminated sorted walk returns exactly the first k matching docIDs") {
    for (term <- Seq("w0000", "w0042", "w1999", "zzznotfound"); k <- Seq(5, 50)) {
      val got = MoreQueries.earlyTerminatedTopK(spark, view, term, k)
        .collect().map(_.getLong(0)).toList
      val full = MoreQueries.matchingDocs(spark, view, Seq(term))
        .orderBy(org.apache.spark.sql.functions.col("doc_id").asc).limit(k)
        .collect().map(_.getLong(0)).toList
      assert(got == full, s"term=$term k=$k")
    }
  }

  test("rescore: top-N re-ranked by first + weight * second") {
    val first = Seq("w0002", "w0005")
    val second = Seq("w0009")
    val got = MoreQueries.rescoreTopN(spark, view, first, second, 30, 10, 2.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val s1 = graft.search.ExactSearch.topK(spark, view, first, 30, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val s2 = graft.search.ExactSearch.scored(spark, view, second, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val expected = s1.map { case (d, s) => (d, s + 2.0 * s2.getOrElse(d, 0.0)) }
      .sortBy { case (d, s) => (-s, d) }.take(10).toList
    assert(got == expected)
    assert(got.nonEmpty)
    // rescoring actually changed the order for this query mix
    assert(got.map(_._1) != s1.take(10).map(_._1).toList)
  }

  test("synonym query: single-term set degenerates to the plain term query") {
    val syn = MoreQueries.synonymTopK(spark, view, Seq("w0002"), 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val plain = graft.search.ExactSearch.topK(spark, view, Seq("w0002"), 25, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(syn == plain && syn.nonEmpty)
  }

  test("synonym query: blended df = max, tf summed (brute force)") {
    val terms = Seq("w0005", "w0011")
    val got = MoreQueries.synonymTopK(spark, view, terms, 10000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // brute force from the raw corpus
    val n = docs.length.toLong
    val toks = docs.map { case (id, t) =>
      id -> Analyzer.tokenize(t).map(_.term).toSeq }
    val dls = toks.map { case (id, ts) => id -> ts.length }.toMap
    val lossy = dls.view.mapValues(dl =>
      graft.codec.SmallFloat.byte4ToInt(graft.codec.SmallFloat.intToByte4(dl))).toMap
    val sttf = dls.values.map(_.toLong).sum
    val avgdl = sttf.toDouble / n
    val df = terms.map(t => toks.count(_._2.contains(t)).toLong).max
    val idf = math.log(1d + (n - df + 0.5d) / (df + 0.5d))
    toks.foreach { case (id, ts) =>
      val tf = ts.count(terms.contains)
      if (tf > 0) {
        val want = idf * tf / (tf + graft.spec.LuceneSpec.K1d *
          (1 - graft.spec.LuceneSpec.Bd + graft.spec.LuceneSpec.Bd * lossy(id) / avgdl))
        assert(math.abs(got(id) - want) < 1e-12, s"doc $id")
      } else assert(!got.contains(id))
    }
    assert(got.nonEmpty)
  }

  test("term vectors: equal to per-doc token counts; pruned blocks only") {
    val got = MoreQueries.termVectors(spark, view, 10L, 14L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = docs.filter { case (id, _) => id >= 10L && id <= 14L }
      .flatMap { case (id, t) =>
        Analyzer.tokenize(t).groupBy(_.term).map { case (term, xs) =>
          (id, term, xs.length.toLong) }
      }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("MUST_NOT excludes and FILTER restricts without changing scores") {
    val base = graft.search.ExactSearch.scored(spark, view, Seq("w0002"), DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val notDocs = bruteDocs(_ == "w0003")
    val got = MoreQueries.topKNot(spark, view, Seq("w0002"), Seq("w0003"), 10000, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.forall { case (d, s) => base(d) == s && !notDocs(d) })
    assert(got.map(_._1).toSet == base.keySet -- notDocs)
  }

  test("explain decomposition: contribs sum to the returned score (CheckHits)") {
    val terms = Seq("w0002", "w0005")
    val k = 5
    val rows = MoreQueries.explainTopK(spark, view, terms, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    // per doc: quantized contribs sum to the quantized doc score (±1
    // micro-unit per term for independent rounding) and docs equal the
    // exact-path top-k
    val byDoc = rows.groupBy(_._1)
    byDoc.foreach { case (_, rs) =>
      val sumContrib = rs.map(_._3).sum
      val score = rs.head._4
      assert(rs.map(_._4).distinct.size == 1)
      assert(math.abs(sumContrib - score) <= rs.size,
        s"contribs $sumContrib vs score $score")
    }
    val expectTop = graft.search.ExactSearch
      .topK(spark, view, terms, k, DoubleOracle)
      .collect().map(_.getLong(0)).toSet
    assert(byDoc.keySet == expectTop)
  }

  test("span-not: include spans overlapping an exclude position are rejected") {
    val (a, b, e) = ("w0000", "w0001", "w0002")
    val slop = 4
    val expect = docs.flatMap { case (id, text) =>
      val toks = Analyzer.tokenize(text)
      def pos(t: String) = toks.filter(_.term == t).map(_.pos).sorted
      val (as, bs, es) = (pos(a), pos(b), pos(e))
      val tf = as.count { p0 =>
        bs.find(_ > p0).exists { p1 =>
          (p1 - p0 - 1) <= slop && !es.exists(p => p >= p0 && p <= p1)
        }
      }
      if (tf > 0) Some(id -> tf) else None
    }.toMap
    val got = MoreQueries.spanNot(spark, view, a, b, slop, e)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(expect.nonEmpty && got == expect)
    // the exclusion must actually bite somewhere: the plain ordered
    // near (no exclusion) must be a strict superset on some doc
    val plain = MoreQueries.spanNearOrdered(spark, view, Seq(a, b), slop)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(plain.exists { case (id, tf) => expect.getOrElse(id, 0) < tf })
  }

  test("span containing/within equal brute-force span enumeration") {
    val (a, b, e) = ("w0000", "w0001", "w0002")
    val slop = 6
    val brute = docs.map { case (id, text) =>
      val toks = Analyzer.tokenize(text)
      def pos(t: String) = toks.filter(_.term == t).map(_.pos).sorted
      val (as, bs, es) = (pos(a), pos(b), pos(e))
      val spans = as.flatMap { p0 =>
        bs.find(_ > p0).filter(p1 => (p1 - p0 - 1) <= slop).map(p1 => (p0, p1))
      }
      val cTf = spans.count { case (p0, p1) => es.exists(p => p >= p0 && p <= p1) }
      val wTf = es.count(p => spans.exists { case (p0, p1) => p0 <= p && p <= p1 })
      (id, cTf, wTf)
    }
    val expectC = brute.collect { case (id, c, _) if c > 0 => id -> c }.toMap
    val expectW = brute.collect { case (id, _, w) if w > 0 => id -> w }.toMap
    val gotC = MoreQueries.spanContaining(spark, view, a, b, slop, e)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val gotW = MoreQueries.spanWithin(spark, view, a, b, slop, e)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(expectC.nonEmpty && gotC == expectC)
    assert(expectW.nonEmpty && gotW == expectW)
    // the two views must diverge somewhere (several littles in one big
    // span, or one little inside several bigs) — else the test is weak
    assert(expectC != expectW || expectC.values.sum != expectW.values.sum ||
      brute.exists { case (_, c, w) => c != w })
  }

  test("scored join ranks outer docs by best inner score per join key") {
    val terms = Seq("w0002", "w0005")
    val k = 15
    val inner = graft.search.ExactSearch.scored(spark, view, terms, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val best = inner.groupBy(t => t._1 / 100).map { case (jk, xs) =>
      jk -> xs.map(_._2).max }
    val expect = docs.map(_._1)
      .flatMap(id => best.get(id / 100).map(s => (id, s)))
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) => (id, math.round(s * 10000)) }
    val got = MoreQueries.scoredJoinTopK(spark, view, terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(expect.nonEmpty && got == expect.toList)
  }

  test("phrase-occurrence kernel (percolator/tagger): counts equal brute-force adjacency") {
    val dict = Seq(0L -> Seq("w0000", "w0001"),
      1L -> Seq("w0002", "w0003"),
      2L -> Seq("w0000", "w0002", "w0001"))
    val expect = (for {
      (id, text) <- docs
      toks = Analyzer.tokenize(text)
      posOf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.map(_.pos).sorted }
      (qid, slots) <- dict
      if slots.forall(posOf.contains)
      n = posOf(slots.head).count(p => slots.zipWithIndex.drop(1)
        .forall { case (t, i) => posOf(t).contains(p + i) })
      if n > 0
    } yield ((qid, id), n)).toMap
    val got = graft.search.Monitor.phraseOccurrences(spark, view, dict)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(expect.nonEmpty && got == expect)
    // at least one multi-occurrence count, else the tagger read is weak
    assert(expect.values.exists(_ > 1) || expect.size > 3)
  }

  test("termfreq function: per-doc tf equals brute-force token count") {
    val term = "w0003"
    val expect = docs.flatMap { case (id, text) =>
      val tf = Analyzer.tokenize(text).count(_.term == term)
      if (tf > 0) Some(id -> tf.toLong) else None
    }.toMap
    val got = MoreQueries.termFreqFunc(spark, view, term)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(expect.nonEmpty && got == expect)
  }

  test("fuzzy suggester: prefix-edit candidates ranked by df, brute force") {
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val prefix = "w01"; val maxEdits = 1; val k = 8
    val p = prefix.length
    val dfMap: Map[String, Long] = docs.toSeq
      .flatMap { case (id, t) => Analyzer.tokenize(t).map(tok => (tok.term, id)) }
      .distinct.groupBy(_._1).map { case (t, xs) => (t, xs.size.toLong) }
    val expect = dfMap.toSeq.filter { case (t, _) =>
      t.startsWith(prefix.take(1)) && t.length >= p - maxEdits &&
        Seq(p - 1, p, p + 1).map(l => lev(t.take(l), prefix)).min <= maxEdits
    }.sortBy { case (t, w) => (-w, t) }.take(k)
    val got = graft.search.Suggest.fuzzySuggest(spark, view, prefix, maxEdits, k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(expect.nonEmpty && got == expect)
  }

  test("spanOr-near equals brute force over the union of or-term positions") {
    val orTerms = Seq("w0000", "w0002"); val anchor = "w0001"
    for (slop <- Seq(0, 2, 5)) {
      val got = MoreQueries.spanOrNear(spark, view, orTerms, anchor, slop)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val pOr = toks.filter(t => orTerms.contains(t.term)).map(_.pos).distinct
        val pA = toks.filter(_.term == anchor).map(_.pos)
        val tf = pOr.count(a => pA.exists(b => b > a && b - a - 1 <= slop))
        if (tf > 0) Some(id -> tf) else None
      }.toMap
      assert(got == expected, s"slop=$slop")
    }
    // multi-term wrapper: prefix expansion feeds the same walk
    val byPrefix = MoreQueries.spanMultiTermNear(spark, view, "w000", "w0001", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val exp = docs.flatMap { case (id, text) =>
      val toks = Analyzer.tokenize(text)
      val pOr = toks.filter(_.term.startsWith("w000")).map(_.pos).distinct
      val pA = toks.filter(_.term == "w0001").map(_.pos)
      val tf = pOr.count(a => pA.exists(b => b > a && b - a - 1 <= 3))
      if (tf > 0) Some(id -> tf) else None
    }.toMap
    assert(byPrefix.nonEmpty && byPrefix == exp)
  }

  test("covering query: per-doc minimum-match threshold from the docvalue") {
    val terms = Seq("w0000", "w0001", "w0002")
    val got = MoreQueries.coveringQuery(spark, view, terms, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.nonEmpty)
    val nmAll = docs.flatMap { case (id, text) =>
      val tk = Analyzer.tokenize(text).map(_.term).toSet
      val nm = terms.count(tk)
      if (nm > 0) Some(id -> nm.toLong) else None
    }.toMap
    got.foreach { case (id, nm) =>
      assert(nm == nmAll(id))
      assert(nm >= 1 + id % 3, s"doc $id matched $nm < ${1 + id % 3}")
    }
    // docs matching fewer than their threshold must be absent
    nmAll.foreach { case (id, nm) =>
      if (nm < 1 + id % 3) assert(!got.contains(id), s"doc $id leaked")
    }
  }

  test("span position range equals brute force; spanFirst is the a=0 case") {
    val term = "w0000"; val (a, b) = (3, 20)
    val got = MoreQueries.spanPositionRange(spark, view, term, a, b)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val expected = docs.flatMap { case (id, text) =>
      val tf = Analyzer.tokenize(text)
        .count(t => t.term == term && t.pos >= a && t.pos + 1 <= b)
      if (tf > 0) Some(id -> tf) else None
    }.toMap
    assert(expected.nonEmpty && got == expected)
  }

  test("blended fuzzy rewrite equals brute force with max-df blending") {
    import graft.codec.SmallFloat
    val query = "w0100"; val maxEdits = 1; val k = 10
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val toks: Map[Long, Array[String]] =
      docs.map { case (id, t) => id -> Analyzer.tokenize(t).map(_.term) }.toMap
    val n = toks.size
    val sttf = toks.values.map(_.length.toLong).sum
    val avgdl = sttf.toDouble / n.toDouble
    val dfMap = toks.toSeq.flatMap { case (id, tk) => tk.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.size.toLong) }
    val exp = dfMap.keys.filter(t => lev(t, query) <= maxEdits).toSeq.sorted
    assert(exp.size > 1, s"want a multi-term expansion, got $exp")
    val dfB = exp.map(dfMap).max
    val idfB = math.log(1d + (n - dfB + 0.5d) / (dfB + 0.5d))
    val boost = exp.map(t =>
      t -> (1.0 - lev(t, query).toDouble /
        math.min(t.length, query.length).toDouble)).toMap
    val expect = toks.toList.flatMap { case (id, tk) =>
      val dl = SmallFloat.lossyLength(tk.length)
      val present = exp.filter(tk.contains)
      if (present.isEmpty) None
      else {
        val s = present.map { t =>
          val tf = tk.count(_ == t).toDouble
          boost(t) * idfB * tf /
            (tf + graft.spec.LuceneSpec.K1d *
              (1 - graft.spec.LuceneSpec.Bd +
                graft.spec.LuceneSpec.Bd * dl / avgdl))
        }.sum
        Some(id -> math.round(s * 10000))
      }
    }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    val got = MoreQueries.fuzzyScoredTopK(spark, view, query, maxEdits, k)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 10000)))
      .toList
    assert(got == expect)
  }

  test("blended infix suggest applies the position-linear discount") {
    val dir = "/root/testdata/sf0.001"
    val frag = "jo"
    val sh = graft.operators.AnalysisOps.shingleDf(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val expect = sh.flatMap { case (s, ctf) =>
      val ws = s.split(" ")
      val pos = if (ws(0).contains(frag)) 0L
        else if (ws(1).contains(frag)) 1L else -1L
      if (pos < 0) None else Some((s, ctf, pos, ctf * (10 - pos) / 10))
    }.sortBy { case (s, _, _, bq) => (-bq, s) }.take(10).toSeq
    val got = graft.search.Suggest.suggestBlended(spark, dir, frag, 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got == expect)
    // a position-1 match is discounted 10%
    got.find(_._3 == 1L).foreach { case (_, w, _, bq) => assert(bq == w * 9 / 10) }
  }

  test("covering query is bit-identical across shuffle-partition counts") {
    // the sorted-sum rule makes the double score a pure function of the
    // data — partial-aggregate merge order must not leak into score_q
    val terms = Seq("w0000", "w0001", "w0002")
    def run(): List[(Long, Long, Long)] =
      MoreQueries.coveringQuery(spark, view, terms, 40)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    val base = run()
    try {
      for (p <- Seq("1", "7", "29")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(run() == base, s"shuffle.partitions=$p diverged")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }

  test("top-terms rewrite picks the n highest-df terms under the prefix") {
    val dfMap: Map[String, Long] = docs.toSeq
      .flatMap { case (id, t) => Analyzer.tokenize(t).map(tok => (tok.term, id)) }
      .distinct.groupBy(_._1).map { case (t, xs) => (t, xs.size.toLong) }
    val expect = dfMap.toSeq.filter(_._1.startsWith("w01"))
      .sortBy { case (t, df) => (-df, t) }.take(5).map(_._1)
    assert(MoreQueries.topTermsByDf(view, "w01", 5) == expect)
  }

  test("span payload check: phrase matches gated by first-slot payload") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val v = IndexCache.documentsIndex(spark, dir)
    val got = MoreQueries.spanPayloadCheck(spark, v, "spark", "join", 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute force over the raw text: payload of an occurrence at 0-based
    // token index i is i+1; phrase = adjacent "spark join"
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> toks.indices.dropRight(1).count(i =>
          toks(i) == "spark" && toks(i + 1) == "join" && i + 1 <= 40).toLong
      }.filter(_._2 > 0).toMap
    assert(expect.nonEmpty && got == expect)
    // the payload gate is doing real work: without it there are MORE matches
    val ungated = MoreQueries.phraseMatch(spark, v, Seq("spark", "join"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    assert(ungated.values.sum > expect.values.sum)
  }

  test("field-masking span equals brute force over raw title-window positions") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val v = IndexCache.documentsIndex(spark, dir)
    val got = MoreQueries.fieldMaskingSpan(spark, v, "spark", "join", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val tw = graft.index.MultiFieldCache.TitleWords
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.split(" ", -1)
        val p2 = toks.indices.filter(i => toks(i) == "join")
        id -> toks.indices.count { p =>
          toks(p) == "spark" && p < tw &&
            p2.find(_ > p).exists(q => q - p - 1 <= 5)
        }.toLong
      }.filter(_._2 > 0).toMap
    assert(expect.nonEmpty && got == expect)
  }

  test("grandchild block join: match must nest child AND grandchild levels") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      // child0 has spark but no grandchild join; child1 has join, no spark
      (0L, "spark a b c join d e f"),
      // gc00 = "spark join" satisfies both levels under child0
      (1L, "spark join a b x y z w"),
      // child0 = "a spark b join": gc01 = "b join" carries the join
      (2L, "a spark b join c d e f"),
      // both children qualify
      (3L, "spark a b join spark c d join"),
      // short doc: child1 = "spark join", gc11 = "join"
      (4L, "x y spark join"))
    val dir = SparkTestBase.tempDir("graft-gcj")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v = graft.index.NestedBlocks.deepNestedIndex(spark, dir)
    val got = MoreQueries.blockJoinGrandchild(spark, v, "spark", "join")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute force: replay the deterministic split
    val expect = rows.flatMap { case (id, text) =>
      val t = text.split(' ')
      val h = (t.length + 1) / 2
      val (c0, c1) = (t.take(h), t.drop(h))
      def qual(c: Array[String]): Boolean = {
        val q = (c.length + 1) / 2
        c.contains("spark") &&
          (c.take(q).contains("join") || c.drop(q).contains("join"))
      }
      val n = Seq(c0, c1).count(qual)
      if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    assert(expect == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    assert(got == expect)
  }
}
