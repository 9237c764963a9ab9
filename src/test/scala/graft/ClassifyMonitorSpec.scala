package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.codec.SmallFloat
import graft.search.{Classify, DoubleOracle, ExactSearch, Monitor, Similarities}

/** Tests for the classification / monitor (percolator) / pluggable
  * similarity modules: crafted corpora where the expected answers are
  * derivable by hand or by an independent in-test computation.
  */
class ClassifyMonitorSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** documents.parquet-shaped corpus whose langs correlate perfectly
    * with two disjoint vocabularies (NB must recover them), and whose
    * texts hit specific Monitor.StoredQueries.
    */
  lazy val corpusDir: String = {
    import spark.implicits._
    val rows = Seq(
      // lang "aa": fruit vocabulary
      (0L, "apple banana cherry apple", "aa"),
      (1L, "banana cherry plum", "aa"),
      (2L, "apple plum plum cherry", "aa"),
      // lang "bb": animal vocabulary
      (3L, "zebra yak lion zebra", "bb"),
      (4L, "lion yak gnu", "bb"),
      (5L, "zebra gnu gnu lion", "bb"),
      // percolator targets (lang irrelevant — distinct vocab again)
      (6L, "spark join fast", "aa"),        // matches q0 (spark, join)
      (7L, "hash table quick", "bb"),       // matches q2 (hash, table, NOT slow)
      (8L, "hash table slow", "bb"),        // q2 suppressed by MUST_NOT slow
      (9L, "sort batch steady", "aa"),      // matches q4 (sort, batch, NOT fast)
      (10L, "sort batch fast", "bb")        // q4 suppressed by MUST_NOT fast
    )
    val dir = SparkTestBase.tempDir("graft-cm")
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  lazy val view = IndexCache.documentsIndex(spark, corpusDir)

  test("percolate: MUST conjunctions match, MUST_NOT suppresses") {
    val got = Monitor.percolate(spark, view).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 6L)), "q0 {spark,join} must hit doc 6")
    assert(got.contains((2L, 7L)), "q2 {hash,table} must hit doc 7")
    assert(!got.contains((2L, 8L)), "doc 8 contains MUST_NOT term 'slow'")
    assert(got.contains((4L, 9L)), "q4 {sort,batch} must hit doc 9")
    assert(!got.contains((4L, 10L)), "doc 10 contains MUST_NOT term 'fast'")
    // no partial-conjunction leaks: every reported match really has all terms
    val texts = spark.read.parquet(s"$corpusDir/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((qid, did) <- got) {
      val q = Monitor.StoredQueries.find(_._1 == qid).get
      val toks = Analyzer.tokenize(texts(did)).map(_.term).toSet
      assert(q._2.forall(toks), s"q$qid reported on doc $did missing a MUST term")
      assert(q._3.forall(t => !toks(t)), s"q$qid on doc $did has its MUST_NOT term")
    }
  }

  test("naive Bayes recovers the vocabulary-separated labels") {
    val preds = Classify.naiveBayes(spark, corpusDir, view).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds.size == 11)
    for (d <- 0L to 2L) assert(preds(d) == "aa", s"doc $d")
    for (d <- 3L to 5L) assert(preds(d) == "bb", s"doc $d")
  }

  test("kNN classifier: two separated embedding clusters vote correctly") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("graft-knn")
    // cluster A around (1, 0, 0), label 7; cluster B around (0, 1, 0), label 9
    val rows = (0 until 4).map(i =>
      (i.toLong, Array(1.0f, 0.01f * i, 0.0f), 7)) ++
      (4 until 8).map(i => (i.toLong, Array(0.01f * i, 1.0f, 0.0f), 9))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Classify.knnClassify(spark, dir, nQueries = 8, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 8)
    for (v <- 0L to 3L) assert(got(v) == 7L, s"vec $v")
    for (v <- 4L to 7L) assert(got(v) == 9L, s"vec $v")
  }

  test("boolean similarity: score is exactly the sum of matched-term boosts") {
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val boosts = Seq("apple" -> 2.0, "lion" -> 1.0, "hash" -> 1.5)
    val expect = docs.toList.flatMap { case (id, t) =>
      val tk = Analyzer.tokenize(t).map(_.term).toSet
      val s = boosts.collect { case (b, w) if tk(b) => w }.sum
      if (s > 0) Some(id -> math.round(s * 10000)) else None
    }.sortBy { case (id, sq) => (-sq, id) }.take(5)
    val got = Similarities.booleanSimTopK(spark, view, boosts, 5)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 10000)))
      .toList
    assert(expect.nonEmpty && got == expect)
    // tf must NOT matter: doc 0 has apple twice, still scores 2.0
    assert(got.toMap.get(0L).contains(20000L))
  }

  test("classic TF-IDF and LM Dirichlet match an independent in-test computation") {
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks: Map[Long, Array[String]] =
      docs.map { case (id, t) => id -> Analyzer.tokenize(t).map(_.term) }
    val n = toks.size.toDouble
    val sttf = toks.values.map(_.length.toLong).sum

    def expectedClassic(terms: Seq[String], k: Int): List[(Long, Long)] = {
      val dfm = terms.distinct.map(t =>
        t -> toks.count(_._2.contains(t))).toMap
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val s = terms.distinct.map { t =>
          val tf = tk.count(_ == t)
          if (tf == 0 || dfm(t) == 0) 0.0
          else (math.log((n + 1.0) / (dfm(t) + 1.0)) + 1.0) *
            math.sqrt(tf.toDouble) / math.sqrt(dl.toDouble)
        }.sum
        if (s > 0) Some(id -> math.round(s * 10000)) else None
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def expectedLm(terms: Seq[String], k: Int, mu: Double): List[(Long, Long)] = {
      val ctfm = terms.distinct.map(t =>
        t -> toks.values.map(_.count(_ == t).toLong).sum).toMap
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val present = terms.distinct.filter(t => tk.contains(t) && ctfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tf = tk.count(_ == t).toDouble
            math.max(0.0,
              math.log(1.0 + tf / (mu * ctfm(t) / sttf.toDouble)) +
                math.log(mu / (dl + mu)))
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def expectedJm(terms: Seq[String], k: Int, lambda: Double): List[(Long, Long)] = {
      val ctfm = terms.distinct.map(t =>
        t -> toks.values.map(_.count(_ == t).toLong).sum).toMap
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val present = terms.distinct.filter(t => tk.contains(t) && ctfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tf = tk.count(_ == t).toDouble
            math.log(1.0 + ((1.0 - lambda) * tf / dl)
              / (lambda * ctfm(t) / sttf.toDouble))
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def q(df: org.apache.spark.sql.DataFrame): List[(Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), math.round(r.getDouble(1) * 10000))).toList

    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    def expectedDfr(terms: Seq[String], k: Int, c: Double): List[(Long, Long)] = {
      val dfm = terms.distinct.map(t => t -> toks.count(_._2.contains(t))).toMap
      val avgdl = sttf.toDouble / n
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val present = terms.distinct.filter(t => tk.contains(t) && dfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tfn = tk.count(_ == t).toDouble * log2(1.0 + c * avgdl / dl)
            tfn / (1.0 + tfn) * log2((n + 1.0) / (dfm(t) + 0.5))
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def expectedIb(terms: Seq[String], k: Int, c: Double): List[(Long, Long)] = {
      val dfm = terms.distinct.map(t => t -> toks.count(_._2.contains(t))).toMap
      val avgdl = sttf.toDouble / n
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val present = terms.distinct.filter(t => tk.contains(t) && dfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tfn = tk.count(_ == t).toDouble * log2(1.0 + c * avgdl / dl)
            val lam = (dfm(t) + 1.0) / (n + 1.0)
            math.log((tfn + lam) / lam)
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def expectedAx(terms: Seq[String], k: Int,
                   sp: Double, kExp: Double): List[(Long, Long)] = {
      val dfm = terms.distinct.map(t => t -> toks.count(_._2.contains(t))).toMap
      val avgdl = sttf.toDouble / n
      toks.toList.flatMap { case (id, tk) =>
        val dl = SmallFloat.lossyLength(tk.length)
        val present = terms.distinct.filter(t => tk.contains(t) && dfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tf = tk.count(_ == t).toDouble
            math.pow((n + 1.0) / dfm(t), kExp) *
              tf / (tf + sp + sp * dl / avgdl)
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    def expectedBm25(terms: Seq[String], k: Int, k1: Double, b: Double,
                     omitNorms: Boolean): List[(Long, Long)] = {
      val dfm = terms.distinct.map(t => t -> toks.count(_._2.contains(t))).toMap
      val avgdl = sttf.toDouble / n
      toks.toList.flatMap { case (id, tk) =>
        val dl = if (omitNorms) 1.0 else SmallFloat.lossyLength(tk.length).toDouble
        val present = terms.distinct.filter(t => tk.contains(t) && dfm(t) > 0)
        if (present.isEmpty) None
        else {
          val s = present.map { t =>
            val tf = tk.count(_ == t).toDouble
            val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
            idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
          }.sum
          Some(id -> math.round(s * 10000))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(k)
    }

    for (terms <- Seq(Seq("apple"), Seq("zebra", "lion"), Seq("hash", "table"))) {
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.classicTfidf))
        == expectedClassic(terms, 5), s"classic $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.lmDirichlet()))
        == expectedLm(terms, 5, 2000.0), s"lm $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.lmJelinekMercer()))
        == expectedJm(terms, 5, 0.7), s"jm $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.dfr()))
        == expectedDfr(terms, 5, 1.0), s"dfr $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.ibLl()))
        == expectedIb(terms, 5, 1.0), s"ib $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.axiomaticF2Exp()))
        == expectedAx(terms, 5, 0.5, 0.35), s"ax $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.bm25Params(0.9, 0.4)))
        == expectedBm25(terms, 5, 0.9, 0.4, omitNorms = false), s"bm25 params $terms")
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.bm25OmitNorms))
        == expectedBm25(terms, 5, 1.2, 0.75, omitNorms = true), s"bm25 omitNorms $terms")
      // BM25 at the default (k1, b) through the similarity dataflow is the
      // exact path's double-precision ranking
      assert(q(Similarities.topK(spark, view, terms, 5, Similarities.bm25Params(1.2, 0.75)))
        == q(ExactSearch.topK(spark, view, terms, 5, DoubleOracle)), s"bm25 exact $terms")
    }
  }
}
