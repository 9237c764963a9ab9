package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.Indexer
import graft.search.{BmwSearch, DoubleOracle, ExactSearch, Float32Lucene, ScoreMode}
import graft.synth.CorpusSynth
import graft.stats.GlobalStats

/** Rank-identity suite (SURVEY.md §5.2.2): the BMW fast path must return
  * exactly the exact path's top-k — docIDs AND scores, in both arithmetic
  * modes — on randomized queries over a multi-segment synthetic corpus.
  * This is the in-repo stand-in for "matches reference Lucene top-k"
  * (no Lucene jar offline; the exact path is itself pinned to LuceneSpec
  * hand fixtures in LuceneSpecSpec).
  */
class SearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // 2000 docs, segment size 256 → 8 doc-range segments
  lazy val view = {
    val corpus = CorpusSynth.corpusWithIds(spark, 2000, seed = 7L)
    val v = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, corpus), segSize = 256L).persisted()
    v.postings.count(); v.docmeta.count()
    v
  }

  private def run(terms: Seq[String], k: Int, mode: ScoreMode) = {
    val exact = ExactSearch.topK(spark, view, terms, k, mode)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val bmw = BmwSearch.topK(spark, view, terms, k, mode)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    (exact, bmw)
  }

  test("rank identity: exact == BMW on randomized queries, both modes") {
    val rnd = new scala.util.Random(99)
    val stops = graft.analysis.Analyzer.EnglishStopWords.toSeq.sorted
    val queries: Seq[Seq[String]] =
      (1 to 12).map { _ =>
        val n = rnd.nextInt(4) + 1
        (1 to n).map(_ => f"w${rnd.nextInt(CorpusSynth.VocabSize)}%04d")
      } ++ Seq(
        Seq("w0000"),                       // hottest zipf term
        Seq("w0000", "w0001", "w0002"),     // hot disjunction
        Seq("w1999"),                       // rare tail term
        Seq("w0000", "w1999"),              // hot + rare mix
        Seq("zzznotfound", "w0005"),        // missing term in disjunction
        stops.take(2) :+ "w0003"            // stopwords are never indexed
      )
    for (q <- queries; mode <- Seq(DoubleOracle, Float32Lucene)) {
      val (exact, bmw) = run(q, 10, mode)
      assert(exact == bmw, s"mismatch for query $q mode $mode:\n  exact=$exact\n  bmw=$bmw")
    }
  }

  test("BMW streams many segments through ONE task (single shuffle partition)") {
    // all 8 doc-range segments hash into a single partition: the kernel
    // must flush per segment from the sorted iterator (bounded buffer),
    // and the shared heap threshold carries across segments — ranks must
    // still be exactly the exact path's
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      for (mode <- Seq(DoubleOracle, Float32Lucene)) {
        val (exact, bmw) = run(Seq("w0001", "w0010", "w0100"), 10, mode)
        assert(exact == bmw, s"single-partition mismatch mode $mode")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("scores are positive and descending with docID tie-break") {
    val (exact, _) = run(Seq("w0001", "w0010"), 10, Float32Lucene)
    assert(exact.nonEmpty)
    exact.sliding(2).foreach {
      case List((d1, s1), (d2, s2)) =>
        assert(s1 > s2 || (s1 == s2 && d1 < d2))
      case _ =>
    }
    assert(exact.forall(_._2 > 0))
  }

  test("rank identity: exact == block-max AND kernel on conjunctions") {
    val rnd = new scala.util.Random(42)
    val queries: Seq[Seq[String]] =
      (1 to 10).map { _ =>
        val n = rnd.nextInt(3) + 2
        (1 to n).map(_ => f"w${rnd.nextInt(200)}%04d") // hot-ish terms co-occur
      } ++ Seq(
        Seq("w0000", "w0001"),          // two hottest terms
        Seq("w0000", "w1999"),          // hot + rare
        Seq("w0003", "zzznotfound"),    // missing term ⇒ empty
        Seq("w0002", "w0002", "w0005")  // duplicate term in the query
      )
    for (q <- queries; mode <- Seq(DoubleOracle, Float32Lucene)) {
      val exact = ExactSearch.topK(spark, view, q.distinct, 10, mode,
        minShouldMatch = q.distinct.size)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      val fast = BmwSearch.topKAnd(spark, view, q, 10, mode)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(exact == fast, s"AND mismatch for $q mode $mode:\n exact=$exact\n fast=$fast")
    }
  }

  test("conjunction (minShouldMatch = #terms) only returns docs with all terms") {
    import spark.implicits._
    val terms = Seq("w0004", "w0007")
    val res = ExactSearch.topK(spark, view, terms, 2000, DoubleOracle,
      minShouldMatch = 2).collect().map(_.getLong(0)).toSet
    // recompute directly from the corpus
    val expected = CorpusSynth.corpusWithIds(spark, 2000, seed = 7L)
      .as[(Long, String, String)].collect()
      .filter { case (_, _, text) =>
        val toks = graft.analysis.Analyzer.tokenize(text).map(_.term).toSet
        terms.forall(toks)
      }.map(_._1).toSet
    assert(res == expected)
  }

  test("index build is deterministic across parallelism (scaling invariance)") {
    val corpus3 = CorpusSynth.corpusWithIds(spark, 500, seed = 11L, numPartitions = 3)
    val corpus7 = CorpusSynth.corpusWithIds(spark, 500, seed = 11L, numPartitions = 7)
    def signature(v: graft.index.IndexView) =
      v.postings.collect()
        .map(b => (b.segment_id, b.term, b.block_id, b.first_doc_id, b.last_doc_id,
          b.docs.toList, b.freqs.toList, b.norms.toList))
        .sortBy(t => (t._1, t._2, t._3)).toList
    val v3 = Indexer.buildTables(spark, Indexer.asDocInput(spark, corpus3), 128L)
    val v7 = Indexer.buildTables(spark, Indexer.asDocInput(spark, corpus7), 128L)
    assert(signature(v3) == signature(v7))
  }

  test("fused TermsHash kernel == two-phase analyze/invert path, byte-identical") {
    val corpus = CorpusSynth.corpusWithIds(spark, 500, seed = 11L)
    val input = Indexer.asDocInput(spark, corpus)
    def sig(ds: org.apache.spark.sql.Dataset[graft.index.PostingBlockRow]) =
      ds.collect()
        .map(b => (b.segment_id, b.term, b.block_id, b.first_doc_id,
          b.last_doc_id, b.docs.toList, b.freqs.toList, b.norms.toList,
          b.positions.toList))
        .sortBy(t => (t._1, t._2, t._3)).toList
    val stops = graft.analysis.Analyzer.EnglishStopWords
    val twoPhase = Indexer.buildPostings(spark,
      Indexer.invert(spark, input, 128L, stops))
    val fused = Indexer.buildPostingsFused(spark, input, 128L, stops)
    assert(sig(fused) == sig(twoPhase))
    // a 4 KB budget forces many mid-batch TermsHash flushes — still identical
    val fusedTiny = Indexer.buildPostingsFused(spark, input, 128L, stops,
      combineBudgetBytes = 4096L)
    assert(sig(fusedTiny) == sig(twoPhase))
  }

  test("combine RAM budget: tiny flush budget yields identical blocks") {
    val corpus = CorpusSynth.corpusWithIds(spark, 500, seed = 11L)
    def sig(budget: Long) = {
      val inv = Indexer.invert(spark, Indexer.asDocInput(spark, corpus),
        128L, graft.analysis.Analyzer.EnglishStopWords)
      Indexer.buildPostings(spark, inv, combineBudgetBytes = budget)
        .collect()
        .map(b => (b.segment_id, b.term, b.block_id, b.first_doc_id,
          b.last_doc_id, b.docs.toList, b.freqs.toList, b.norms.toList,
          b.positions.toList))
        .sortBy(t => (t._1, t._2, t._3)).toList
    }
    // 4 KB budget forces many mid-split flushes; result must be identical
    assert(sig(4096L) == sig(Long.MaxValue))
  }

  test("segment merge works on a positions-off index (DOCS_AND_FREQS)") {
    val corpus = CorpusSynth.corpusWithIds(spark, 500, seed = 11L)
    val v = Indexer.buildTables(spark, Indexer.asDocInput(spark, corpus),
      128L, indexPositions = false)
    val merged = graft.index.Merger.merge(spark, v, 4)
    def stats(x: graft.index.IndexView) = x.terms.groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"),
        org.apache.spark.sql.functions.sum("ctf").as("ctf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    assert(stats(merged) == stats(v))
    assert(merged.postings.select("segment_id").distinct().count() <
      v.postings.select("segment_id").distinct().count())
  }

  test("global stats match direct recomputation; salted agg agrees") {
    import spark.implicits._
    val cs = GlobalStats.collectionStats(view)
    val direct = CorpusSynth.corpusWithIds(spark, 2000, seed = 7L)
      .as[(Long, String, String)].collect()
      .map(t => graft.analysis.Analyzer.analyze(t._3).dl)
      .filter(_ > 0)
    assert(cs.docCount == direct.length)
    assert(cs.sumTotalTermFreq == direct.map(_.toLong).sum)

    // salted two-phase df/ctf equals the terms-table aggregate
    val inverted = Indexer.invert(spark,
      Indexer.asDocInput(spark, CorpusSynth.corpusWithIds(spark, 2000, seed = 7L)),
      256L, graft.analysis.Analyzer.EnglishStopWords)
    val salted = GlobalStats.saltedTermCounts(inverted.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    val fromTerms = view.terms.groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"),
        org.apache.spark.sql.functions.sum("ctf").as("ctf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    assert(salted == fromTerms)

    // the one-action term stats equal a groupBy over the dictionary for
    // present, absent and duplicated terms
    import org.apache.spark.sql.functions.{col, sum}
    val asked = Seq("w0000", "w0017", "w0017", "w0900", "nosuchterm", "w1999", "w0000")
    val reference = view.terms.filter(col("term").isin(asked: _*))
      .groupBy("term").agg(sum("df"), sum("ctf"))
      .collect().map(r => r.getString(0) ->
        graft.stats.TermStats(r.getString(0), r.getLong(1), r.getLong(2))).toMap
    val ts = GlobalStats.termStats(view, asked)
    assert(ts == reference)
    assert(ts.contains("w0000") && ts.contains("w0017") && !ts.contains("nosuchterm"))
  }
}
