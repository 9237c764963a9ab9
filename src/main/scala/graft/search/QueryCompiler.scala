package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexView

/** Composable query tree — the front-end the reference exposes as
  * `Query` subclasses + `IndexSearcher#rewrite` [8x search/Query.java,
  * BooleanQuery.java, Solr ExtendedDismaxQParser.java]. A user builds an
  * arbitrary nested tree; [[QueryCompiler.rewrite]] normalizes it
  * (multi-term expansion against the term dictionary, boost folding,
  * single-clause collapse, disjunction flattening) and
  * [[QueryCompiler.compile]] lowers it onto the existing primitives as
  * ONE Catalyst dataflow.
  */
sealed trait Query extends Serializable

object Query {
  /** Single-term BM25 clause. */
  final case class Term(t: String) extends Query
  /** Phrase (exact when slop=0). In scoring position it scores through
    * BM25 like the reference [8x search/PhraseQuery.java → PhraseWeight]:
    * freq = phrase_tf, weight = sum of slot-term idfs.
    */
  final case class Phrase(terms: Seq[String], slop: Int = 0) extends Query
  // — MultiTermQuery family: rewritten to ConstScore(TermSet) against
  //   the term dictionary, the reference's CONSTANT_SCORE_REWRITE —
  final case class Prefix(prefix: String) extends Query
  final case class Wildcard(pattern: String) extends Query
  /** Whole-term regular expression [8x search/RegexpQuery.java]. */
  final case class Regexp(pattern: String) extends Query
  /** Span-near clause (ordered or unordered) — match-only in scoring
    * position (constant score 1.0 per matching doc, the reference's
    * common SpanQuery-as-filter use; span scoring proper would feed
    * span_tf through the similarity like Phrase does).
    */
  final case class SpanNear(terms: Seq[String], slop: Int,
                            ordered: Boolean = true) extends Query
  /** Interval-algebra clause ([[Interval.Expr]]) — match-only. */
  final case class IntervalQ(expr: Interval.Expr) extends Query
  final case class Fuzzy(term: String, maxEdits: Int) extends Query
  final case class TermRange(lo: String, hi: String) extends Query
  final case class TermSet(terms: Seq[String]) extends Query
  /** Wrapped query's score multiplied by `boost`. */
  final case class Boost(q: Query, boost: Double) extends Query
  /** Matching docs of `q` with a fixed score (ConstantScoreQuery). */
  final case class ConstScore(q: Query, score: Double = 1.0) extends Query
  case object MatchAll extends Query
  /** BooleanQuery: SHOULD (optional, scoring) / MUST (required, scoring)
    * / MUST_NOT (excluding) / FILTER (required, non-scoring) +
    * minimumNumberShouldMatch. Score = sum of matching scoring clauses.
    */
  final case class Bool(should: Seq[Query] = Nil, must: Seq[Query] = Nil,
                        mustNot: Seq[Query] = Nil, filter: Seq[Query] = Nil,
                        minShouldMatch: Int = 0) extends Query
}

/** The Solr-style request front door (SURVEY.md §3.3 entry point C):
  * main query `q`, zero or more non-scoring filter queries `fq`, rows
  * `k` — exactly `/select?q=…&fq=…&rows=k`.
  */
final case class QueryRequest(q: Query, fq: Seq[Query] = Nil, k: Int = 10)

object QueryCompiler {
  import Query._

  /** Execute a [[QueryRequest]]: `fq` become FILTER clauses of a
    * wrapping Bool (non-scoring, cacheable in the reference; here they
    * lower to broadcast semi-joins).
    */
  def search(spark: SparkSession, view: IndexView, req: QueryRequest,
             mode: ScoreMode = DoubleOracle): DataFrame = {
    val wrapped =
      if (req.fq.isEmpty) req.q
      else Bool(must = Seq(req.q), filter = req.fq)
    topK(spark, view, wrapped, req.k, mode)
  }

  /** Normalize a query tree against an index (bottom-up):
    *  - Prefix/Wildcard/Fuzzy/TermRange expand to ConstScore(TermSet)
    *    via the term dictionary (capped at maxClauseCount), the
    *    reference's CONSTANT_SCORE_REWRITE; bare TermSet also wraps.
    *  - Boost(Boost(q,a),b) -> Boost(q,a*b); Boost(q,1) -> q;
    *    Boost(ConstScore(q,s),b) -> ConstScore(q,s*b).
    *  - ConstScore(ConstScore(q,_),s) -> ConstScore(q,s).
    *  - Bool(single SHOULD, msm<=1) / Bool(single MUST) collapse to the
    *    clause; SHOULD-only child Bools splice into the parent's SHOULD
    *    list (score-preserving: sum of sums).
    */
  def rewrite(view: IndexView, q: Query): Query = q match {
    case Prefix(p)       => ConstScore(TermSet(MoreQueries.prefixTerms(view, p)))
    case Wildcard(p) if p.length > 1 && p.head == '*' &&
        !p.tail.exists(c => c == '*' || c == '?') =>
      // leading-wildcard special case: same term set as the generic
      // rlike expansion, but via the sargable REVERSED-dictionary
      // prefix scan (ReversedWildcardFilter — see leadingWildcardTerms)
      ConstScore(TermSet(MoreQueries.leadingWildcardTerms(view, p.tail)))
    case Wildcard(p)     => ConstScore(TermSet(MoreQueries.wildcardTerms(view, p)))
    case Regexp(p)       => ConstScore(TermSet(MoreQueries.regexpTerms(view, p)))
    case Fuzzy(t, e)     => ConstScore(TermSet(MoreQueries.fuzzyTerms(view, t, e)))
    case TermRange(l, h) => ConstScore(TermSet(MoreQueries.rangeTerms(view, l, h)))
    case TermSet(ts)     => ConstScore(TermSet(ts.distinct.sorted))
    case Boost(inner, b) => (rewrite(view, inner), b) match {
      case (qq, 1.0)              => qq
      case (Boost(qq, a), _)      => Boost(qq, a * b)
      case (ConstScore(qq, s), _) => ConstScore(qq, s * b)
      case (qq, _)                => Boost(qq, b)
    }
    case ConstScore(inner, s) => rewrite(view, inner) match {
      case ConstScore(qq, _) => ConstScore(qq, s)
      case Boost(qq, _)      => ConstScore(qq, s) // boost is irrelevant under const
      case qq                => ConstScore(qq, s)
    }
    case Bool(sh, mu, no, fi, msm) =>
      // splice SHOULD-only child disjunctions (sum-of-sums identity) —
      // ONLY when the parent's minShouldMatch <= 1: with msm >= 2 a
      // nested disjunction counts as ONE clause toward msm, so
      // flattening would change the clause count msm is evaluated
      // against (review finding, round 2)
      val rewritten = sh.map(rewrite(view, _))
      val sh2 =
        if (msm > 1) rewritten
        else rewritten.flatMap {
          case Bool(cs, Nil, Nil, Nil, m) if m <= 1 => cs
          case c                                    => Seq(c)
        }
      val b = Bool(sh2, mu.map(rewrite(view, _)), no.map(rewrite(view, _)),
        fi.map(rewrite(view, _)), msm)
      b match {
        case Bool(Seq(one), Nil, Nil, Nil, m) if m <= 1 => one
        case Bool(Nil, Seq(one), Nil, Nil, 0)           => one
        case other                                      => other
      }
    case other => other
  }

  /** Every Term in the tree (ANY position — one batched stats job
    * covers them all; nested Bools under MUST_NOT/FILTER still score
    * internally before their doc set is taken).
    */
  private def allTerms(q: Query): Seq[String] = q match {
    case Term(t)         => Seq(t)
    case Phrase(ts, _)   => ts // phrase weight sums the slot terms' idfs
    case Boost(inner, _) => allTerms(inner)
    case ConstScore(inner, _) => allTerms(inner)
    case Bool(sh, mu, no, fi, _) => (sh ++ mu ++ no ++ fi).flatMap(allTerms)
    case _               => Nil // TermSet/MTQ/MatchAll don't use stats
  }

  /** Matching doc set of a rewritten query — non-scoring positions
    * (FILTER / MUST_NOT) skip score computation entirely.
    */
  private def compileDocSet(spark: SparkSession, view: IndexView,
                            scorers: QueryScorers, q: Query): DataFrame = q match {
    case Term(t)              => MoreQueries.matchingDocs(spark, view, Seq(t))
    case TermSet(ts)          => MoreQueries.matchingDocs(spark, view, ts)
    case ConstScore(inner, _) => compileDocSet(spark, view, scorers, inner)
    case Boost(inner, _)      => compileDocSet(spark, view, scorers, inner)
    case Phrase(ts, slop)     =>
      MoreQueries.phraseMatch(spark, view, ts, slop).select("doc_id")
    case SpanNear(ts, slop, ordered) =>
      (if (ordered) MoreQueries.spanNearOrdered(spark, view, ts, slop)
       else MoreQueries.spanNearUnordered(spark, view, ts, slop))
        .select("doc_id")
    case IntervalQ(e)         =>
      Interval.matches(spark, view, e).select("doc_id")
    case MatchAll             => view.docmeta.toDF().select("doc_id")
    case b: Bool              =>
      compileScored(spark, view, scorers, b).select("doc_id")
    case other =>
      throw new IllegalStateException(s"unrewritten query node: $other (call rewrite first)")
  }

  /** Matching (doc_id, score) rows of a REWRITTEN query. */
  private def compileScored(spark: SparkSession, view: IndexView,
                            scorers: QueryScorers, q: Query): DataFrame = q match {
    case Term(t) =>
      ExactSearch.scoredWith(spark, view, Seq(t), scorers)
    case TermSet(ts) => // bare set in scoring position = constant score 1
      MoreQueries.matchingDocs(spark, view, ts).select(col("doc_id"), lit(1.0).as("score"))
    case Phrase(ts, slop) =>
      MoreQueries.phraseScored(spark, view, ts, slop, scorers)
    case q @ SpanNear(_, _, _) => // match-only: constant score 1.0
      compileDocSet(spark, view, scorers, q)
        .select(col("doc_id"), lit(1.0).as("score"))
    case q @ IntervalQ(_) => // match-only: constant score 1.0
      compileDocSet(spark, view, scorers, q)
        .select(col("doc_id"), lit(1.0).as("score"))
    case ConstScore(inner, s) =>
      compileScored(spark, view, scorers, inner)
        .select(col("doc_id"), lit(s).as("score"))
    case Boost(inner, b) =>
      compileScored(spark, view, scorers, inner)
        .select(col("doc_id"), (col("score") * b).as("score"))
    case MatchAll =>
      view.docmeta.toDF().select(col("doc_id"), lit(1.0).as("score"))
    case Bool(sh, mu, no, fi, msm) =>
      compileBool(spark, view, scorers, sh, mu, no, fi, msm)
    case other =>
      throw new IllegalStateException(s"unrewritten query node: $other (call rewrite first)")
  }

  private def compileBool(spark: SparkSession, view: IndexView,
                          scorers: QueryScorers, should: Seq[Query],
                          must: Seq[Query], mustNot: Seq[Query],
                          filter: Seq[Query], msm: Int): DataFrame = {
    val viewKey = FilterCache.viewKey(view)
    def docSet(q: Query): DataFrame =
      compileDocSet(spark, view, scorers, q)
    // FILTER doc sets route through the filterCache (query-independent,
    // the reference's fq caching); MUST_NOT stays uncached like the
    // reference's prohibited clauses
    def filterDocSet(q: Query): DataFrame =
      FilterCache.getOrCompute(viewKey, q)(docSet(q))
    // SHOULD-only bool requires >= 1 matching SHOULD (reference rule)
    val effMsm = if (must.isEmpty && filter.isEmpty) math.max(1, msm) else msm
    if (msm > should.size) // unsatisfiable (reference: matches nothing)
      return spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("score", lit(0.0)).limit(0)

    val shouldAgg: Option[DataFrame] =
      if (should.isEmpty) None
      else Some(
        should.map(c => compileScored(spark, view, scorers, c))
          .reduce(_.unionAll(_))
          .groupBy("doc_id")
          .agg(sum("score").as("s_should"), count(lit(1)).as("n_should")))

    val base: DataFrame = (must, shouldAgg) match {
      case (Nil, Some(sa)) if filter.nonEmpty && effMsm == 0 =>
        // no MUST, FILTER present, msm=0: SHOULD is purely optional once
        // a required clause exists (the reference's ReqOptSumScorer via
        // Boolean2ScorerSupplier [8x search/Boolean2ScorerSupplier.java])
        // — docs matching all filters but no SHOULD clause are hits with
        // should-score 0, so build base from the filter doc set
        filterDocSet(filter.head)
          .join(sa.select(col("doc_id"), col("s_should")), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), coalesce(col("s_should"), lit(0.0)).as("score"))
      case (Nil, Some(sa)) =>
        sa.where(col("n_should") >= effMsm)
          .select(col("doc_id"), col("s_should").as("score"))
      case (Nil, None) if filter.nonEmpty => // filter-only: score 0
        filterDocSet(filter.head).select(col("doc_id"), lit(0.0).as("score"))
      case (Nil, None) => // MUST_NOT-only / empty bool: matches nothing
        // (reference semantics: a BooleanQuery with only prohibited
        // clauses is a valid query with an empty result, not an error)
        spark.emptyDataFrame
          .withColumn("doc_id", lit(0L)).withColumn("score", lit(0.0)).limit(0)
      case (ms, sa) =>
        val mustJoined = ms.map(c =>
            compileScored(spark, view, scorers, c))
          .reduceLeft { (a, b) =>
            a.select(col("doc_id"), col("score").as("s_a"))
              .join(b.select(col("doc_id"), col("score").as("s_b")), "doc_id")
              .select(col("doc_id"), (col("s_a") + col("s_b")).as("score"))
          }
        sa match {
          case None => mustJoined
          case Some(s0) =>
            val j = mustJoined.join(
              s0.select(col("doc_id"), col("s_should"), col("n_should")),
              Seq("doc_id"), "left_outer")
            val msmd = if (effMsm > 0)
              j.where(coalesce(col("n_should"), lit(0L)) >= effMsm) else j
            msmd.select(col("doc_id"),
              (col("score") + coalesce(col("s_should"), lit(0.0))).as("score"))
        }
    }
    val filtered = filter.foldLeft(base)((acc, f) =>
      acc.join(filterDocSet(f), Seq("doc_id"), "left_semi"))
    mustNot.foldLeft(filtered)((acc, f) =>
      acc.join(docSet(f), Seq("doc_id"), "left_anti"))
  }

  /** Rewrite + compile: matching (doc_id, score) rows. */
  def compile(spark: SparkSession, view: IndexView, q: Query,
              mode: ScoreMode = DoubleOracle): DataFrame =
    compileRewritten(spark, view, rewrite(view, q), mode)

  private def compileRewritten(spark: SparkSession, view: IndexView,
                               rw: Query, mode: ScoreMode): DataFrame = {
    val scorers = QueryScorers(view, allTerms(rw).distinct, mode)
    compileScored(spark, view, scorers, rw)
  }

  /** The flat distinct-Term bag of a clause list, when that is ALL the
    * list contains — the shape the block-max kernels implement natively.
    * Duplicate terms bail out (the exact path scores a repeated SHOULD
    * term twice; the kernels score each dictionary term once).
    */
  private def pureTermBag(qs: Seq[Query]): Option[Seq[String]] = {
    val ts = qs.collect { case Term(t) => t }
    if (ts.length == qs.length && ts.distinct.length == ts.length) Some(ts)
    else None
  }

  /** Kernel routing for a REWRITTEN tree — the reference gives WAND to
    * every top-k run automatically ([8x search/WANDScorer.java,
    * IndexSearcher.java#search builds a WANDScorer for any scoring
    * disjunction, BlockMaxConjunctionScorer for conjunctions]); mirror
    * that here so user-typed query strings (QueryParser → topK) get the
    * block-max kernels, not just the dedicated bench entries. Pure
    * distinct-term disjunctions (msm ≤ 1 — the kernel's ≥1-match rule)
    * route to BMW; pure distinct-term conjunctions to block-max AND;
    * anything mixed (phrases, boosts, filters, MUST_NOT, msm ≥ 2)
    * keeps the exact Catalyst path. Both kernels are rank- AND
    * score-identical to the exact path (SearchSpec rank-identity suite),
    * so routing is purely a physical-plan choice.
    */
  private[graft] def kernelChoice(rw: Query): Option[(Seq[String], Boolean)] =
    rw match {
      case Term(t) => Some((Seq(t), false))
      case Bool(sh, Nil, Nil, Nil, msm) if msm <= 1 && sh.nonEmpty =>
        pureTermBag(sh).map(ts => (ts, false))
      case Bool(Nil, mu, Nil, Nil, 0) if mu.size >= 2 =>
        pureTermBag(mu).map(ts => (ts, true))
      case _ => None
    }

  /** Rewrite + compile + reference top-k cut (score desc, docID asc).
    * Pure term disjunctions/conjunctions lower to the block-max kernels
    * (see [[kernelChoice]]); everything else takes the exact path.
    */
  def topK(spark: SparkSession, view: IndexView, q: Query, k: Int,
           mode: ScoreMode = DoubleOracle): DataFrame = {
    val rw = rewrite(view, q)
    kernelChoice(rw) match {
      case Some((ts, false)) =>
        BmwSearch.topK(spark, view, ts, k, mode)
      case Some((ts, true)) =>
        BmwSearch.topKAnd(spark, view, ts, k, mode)
      case _ =>
        compileRewritten(spark, view, rw, mode)
          .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    }
  }
}
