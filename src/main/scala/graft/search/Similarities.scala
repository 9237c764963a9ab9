package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexView
import graft.spec.LuceneSpec
import graft.stats.{CollectionStats, GlobalStats}

/** A weighted similarity: the dictionary stat it reads per term (`df` or
  * `ctf`) and, given the collection stats, its per-(doc, term) score
  * column over `tf`, `lossy_dl` and that stat — the analog of the
  * reference's `Similarity` handing out a `SimScorer` while one shared
  * collector does the rest [8x search/similarities/Similarity.java].
  */
final case class Similarity(stat: String, score: CollectionStats => Column)

/** Pluggable per-field similarities beyond BM25 — the reference lets a
  * schema swap the scoring model per field while reusing the same index
  * (norms store the SmallFloat-encoded doc length; each similarity
  * decodes it its own way) [8x
  * `lucene/core/src/java/org/apache/lucene/search/similarities/
  * ClassicSimilarity.java`, `LMDirichletSimilarity.java`; solr
  * `schema/SimilarityFactory.java`].
  *
  * Every weighted model runs through ONE pure Catalyst dataflow
  * ([[topK]]) over the SAME decoded postings the BM25 paths read: a tiny
  * per-term stats frame (df or ctf from the term dictionary,
  * parquet-pruned) broadcasts into the model's codegen'd column
  * expression, then a per-doc hash aggregate and a TakeOrderedAndProject
  * cut with the reference tie-break. Nothing re-reads stored text, and
  * the per-doc work is one narrow projection — the shape survives any
  * corpus size (the shuffle is the same doc-keyed aggregate the BM25
  * exact path already pays). Each model's expression keeps a fixed
  * shape the DuckDB oracle replays in double precision.
  */
object Similarities {

  private val tfD = col("tf").cast("double")
  private val dlD = col("lossy_dl").cast("double")
  private def avgdl(cs: CollectionStats): Double =
    cs.sumTotalTermFreq.toDouble / cs.docCount.toDouble

  /** Per-doc sum of the per-term scores `s` in ASCENDING TERM ORDER — the
    * same deterministic-summation rule as ExactSearch.scoredWith (rows
    * sorted before adding), so the float result is a pure function of
    * the data, never of partial-aggregate merge order. Emits
    * (doc_id, score, n_matched).
    */
  private[search] def sumScoresDeterministic(per: DataFrame): DataFrame =
    per.groupBy("doc_id")
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (a, x) => a + x).as("score"),
        count(lit(1)).as("n_matched"))

  /** The shared cut: per-doc deterministic sum of a (doc_id, term, s)
    * frame, then (score desc, doc_id asc) top-k of (doc_id, score).
    */
  private[search] def sumTopK(per: DataFrame, k: Int): DataFrame =
    sumScoresDeterministic(per).select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** The BM25 idf ln(1 + (N − df + 0.5) / (df + 0.5)) over a `df` column
    * [8x BM25Similarity.java#idf].
    */
  private[search] def bm25Idf(n: Column): Column =
    log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** The one Catalyst BM25 term score [8x BM25Similarity.java]:
    *
    *   idf · tf / (tf + k1 · (1 − b + b · dl / avgdl))
    *
    * Callers pass their own idf (per-term, blended, boosted) and columns;
    * the operation order is fixed so every caller's doubles agree.
    */
  private[search] def bm25(idf: Column, tf: Column, dl: Column,
                           avgdl: Column, k1: Double, b: Double): Column =
    idf * tf / (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / avgdl))

  /** Top-k of `terms` under a weighted similarity: collection stats →
    * broadcast per-term stat frame joined with the decoded postings →
    * the model's per-(doc, term) score → deterministic per-doc sum →
    * (score desc, doc_id asc) cut.
    */
  def topK(spark: SparkSession, view: IndexView, terms: Seq[String],
           k: Int, sim: Similarity): DataFrame = {
    val cs = GlobalStats.collectionStats(view)
    val stat = view.terms.where(col("term").isin(terms.distinct: _*))
      .groupBy("term").agg(sum(sim.stat).as(sim.stat))
    val per = ExactSearch.decodedPostings(spark, view, terms)
      .join(broadcast(stat), Seq("term"))
      .select(col("doc_id"), col("term"), sim.score(cs).as("s"))
    sumTopK(per, k)
  }

  /** ClassicSimilarity's idf ln((N + 1) / (df + 1)) + 1. */
  private def classicIdf(cs: CollectionStats): Column =
    log(lit(cs.docCount + 1.0) / (col("df") + lit(1.0))) + lit(1.0)

  /** ClassicSimilarity (TF-IDF), 8.x shape (coord and queryNorm
    * removed, LUCENE-7347):
    *
    *   idf(df, N)  = ln((N + 1) / (df + 1)) + 1
    *   tf(freq)    = sqrt(freq)
    *   lengthNorm  = 1 / sqrt(dl)   (dl = SmallFloat-decoded lossy length)
    *   score(t, d) = idf * tf * lengthNorm, summed over query terms
    */
  val classicTfidf: Similarity = Similarity("df", cs =>
    classicIdf(cs) * sqrt(tfD) / sqrt(dlD))

  private def bm25With(dl: Column, k1: Double, b: Double): Similarity =
    Similarity("df", cs =>
      bm25(bm25Idf(lit(cs.docCount.toDouble)), tfD, dl, lit(avgdl(cs)), k1, b))

  /** BM25 with schema-tuned k1/b [8x solr/core .../schema/
    * BM25SimilarityFactory — `<similarity class="solr.
    * BM25SimilarityFactory"><float name="k1">0.9</float><float
    * name="b">0.4</float></similarity>`; lucene BM25Similarity(k1, b)]:
    * the same formula with the per-field parameters a production schema
    * tunes (k1 0.9 / b 0.4 is the short-field preset).
    */
  def bm25Params(k1: Double, b: Double): Similarity = bm25With(dlD, k1, b)

  /** BM25 with norms OMITTED (schema omitNorms=true [8x index/
    * FieldInfo.java hasNorms; search/similarities/BM25Similarity.java
    * — a normless field scores with norm value 1, i.e. dl = 1]): the
    * length normalization collapses to the constant
    * k1·(1 − b + b/avgdl), so only the docID+freq streams are needed —
    * the norm bytes are never read, exactly the reference's storage
    * saving for short identifier-like fields.
    */
  val bm25OmitNorms: Similarity =
    bm25With(lit(1.0), LuceneSpec.K1d, LuceneSpec.Bd)

  /** LMDirichletSimilarity (μ = 2000, the reference default):
    *
    *   p(t|C)      = ctf_t / sumTotalTermFreq
    *   score(t, d) = max(0, ln(1 + tf / (μ p(t|C))) + ln(μ / (dl + μ)))
    *
    * The per-term clip at 0 is the reference's non-negative-scores
    * guarantee (a doc shorter than average can otherwise go negative).
    */
  def lmDirichlet(mu: Double = 2000.0): Similarity = Similarity("ctf", cs =>
    greatest(lit(0.0),
      log(lit(1.0) + tfD
        / (lit(mu) * col("ctf") / lit(cs.sumTotalTermFreq.toDouble)))
      + log(lit(mu) / (dlD + lit(mu)))))

  /** LMJelinekMercerSimilarity (λ = 0.7, the Solr factory default
    * [8x lucene .../similarities/LMJelinekMercerSimilarity.java; solr
    * schema/LMJelinekMercerSimilarityFactory.java]):
    *
    *   p(t|C)      = ctf_t / sumTotalTermFreq
    *   score(t, d) = ln(1 + ((1−λ) · tf / dl) / (λ · p(t|C)))
    *
    * Always ≥ 0 (log1p of a non-negative ratio) so no clip is needed.
    */
  def lmJelinekMercer(lambda: Double = 0.7): Similarity =
    Similarity("ctf", cs =>
      log(lit(1.0)
        + (lit(1.0 - lambda) * tfD / dlD)
          / (lit(lambda) * col("ctf") / lit(cs.sumTotalTermFreq.toDouble))))

  /** NormalizationH2: tfn = tf · log2(1 + c · avgdl / dl). */
  private def h2(c: Double, cs: CollectionStats): Column =
    tfD * log2(lit(1.0) + lit(c) * lit(avgdl(cs)) / dlD)

  /** DFRSimilarity, the I(n) · L · H2 composition [8x lucene
    * .../similarities/DFRSimilarity.java, BasicModelIn.java,
    * AfterEffectL.java, NormalizationH2.java — the divergence-from-
    * randomness framework of Amati & van Rijsbergen 2002]:
    *
    *   tfn  = tf · log2(1 + c · avgdl / dl)        (H2, c = 1)
    *   score = tfn / (1 + tfn) · log2((N + 1) / (df + 0.5))
    *           (I(n) basic model with the Laplace after-effect L
    *            fused in, the 8.x non-negative refactoring shape)
    */
  def dfr(c: Double = 1.0): Similarity = Similarity("df", cs => {
    val tfn = h2(c, cs)
    tfn / (lit(1.0) + tfn) *
      log2(lit(cs.docCount + 1.0) / (col("df") + lit(0.5)))
  })

  /** IBSimilarity, the LL·DF·H2 composition [8x lucene
    * .../similarities/IBSimilarity.java, DistributionLL.java,
    * LambdaDF.java, NormalizationH2.java — the information-based
    * framework of Clinchant & Gaussier 2010]:
    *
    *   tfn   = tf · log2(1 + c · avgdl / dl)      (H2, c = 1)
    *   λ     = (df + 1) / (N + 1)                 (LambdaDF)
    *   score = ln((tfn + λ) / λ)                  (log-logistic; the
    *           −ln(λ/(tfn+λ)) form rearranged, always ≥ 0)
    */
  def ibLl(c: Double = 1.0): Similarity = Similarity("df", cs => {
    val tfn = h2(c, cs)
    val lam = (col("df") + lit(1.0)) / lit(cs.docCount + 1.0)
    log((tfn + lam) / lam)
  })

  /** AxiomaticF2EXP [8x lucene .../similarities/AxiomaticF2EXP.java —
    * Fang & Zhai 2005, "An Exploration of Axiomatic Approaches to
    * Information Retrieval"; the F2-EXP function with the reference
    * defaults s = 0.5, k = 0.35]:
    *
    *   score(t, d) = ((N + 1) / df)^k · tf / (tf + s + s · dl / avgdl)
    *
    * No log anywhere — a pure rational form, so it is the one
    * similarity whose per-term score is bounded by its idf lift.
    */
  def axiomaticF2Exp(s: Double = 0.5, kExp: Double = 0.35): Similarity =
    Similarity("df", cs =>
      pow(lit(cs.docCount + 1.0) / col("df"), lit(kExp)) * tfD
        / (tfD + lit(s) + lit(s) * dlD / lit(avgdl(cs))))

  /** SweetSpotSimilarity [8x lucene/misc .../SweetSpotSimilarity.java;
    * solr schema/SweetSpotSimilarityFactory.java] — the classic TF-IDF
    * tuned with a PLATEAU length normalization: documents whose length
    * falls inside [min, max] get lengthNorm 1 (no penalty), and the
    * penalty ramps hyperbolically outside it,
    *
    *   lengthNorm(dl) = 1 / sqrt(steepness · (|dl − min| + |dl − max|
    *                              − (max − min)) + 1)
    *
    * (the published formula; tf stays ClassicSimilarity's sqrt — the
    * default baselineTf with base = min = 0). The Solr use case is
    * fields with a known "right" length band (titles, product names)
    * where ordinary 1/sqrt(dl) over-rewards truncation.
    */
  def sweetSpot(min: Int = 30, max: Int = 60,
                steepness: Double = 0.5): Similarity = {
    val lengthNorm = lit(1.0) / sqrt(
      lit(steepness) * (abs(dlD - lit(min.toDouble)) + abs(dlD - lit(max.toDouble))
        - lit((max - min).toDouble)) + lit(1.0))
    Similarity("df", cs => classicIdf(cs) * sqrt(tfD) * lengthNorm)
  }

  /** BooleanSimilarity top-k [8x lucene .../similarities/
    * BooleanSimilarity.java]: score = the query boost of each matched
    * term, summed — no tf, no idf, no norms (Solr schemas use it for
    * pure filter-style fields where relevance is externally supplied).
    * Only the docID streams are decoded (freqs/norms/positions pruned
    * at the parquet scan); a (term, doc) pair occurs exactly once
    * across blocks (blocks partition doc ranges), so the per-doc boost
    * sum needs no distinct.
    */
  def booleanSimTopK(spark: SparkSession, view: IndexView,
                     boosts: Seq[(String, Double)], k: Int): DataFrame = {
    import spark.implicits._
    val terms = boosts.map(_._1).distinct
    val bdf = broadcast(boosts.toDF("term", "boost"))
    val per = view.postings
      .where(col("term").isin(terms: _*))
      .flatMap(b => graft.codec.VByte.decodeDeltas(b.docs).map(d => (b.term, d)))
      .toDF("term", "doc_id")
      .join(bdf, Seq("term"))
      .select(col("doc_id"), col("term"), col("boost").as("s"))
    sumTopK(per, k)
  }
}
