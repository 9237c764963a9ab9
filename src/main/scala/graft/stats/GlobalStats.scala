package graft.stats

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.index.{DocMetaRow, IndexView}

/** Collection-level statistics — the analog of the reference's
  * `CollectionStatistics` gathered once at Weight creation
  * [8x search/IndexSearcher.java#collectionStatistics]:
  * docCount and sumTotalTermFreq (= Σ dl over docs with the field).
  */
final case class CollectionStats(docCount: Long, sumTotalTermFreq: Long)

/** Per-term global statistics (`TermStatistics` [8x]): document frequency
  * and collection term frequency, aggregated across segments.
  */
final case class TermStats(term: String, df: Long, ctf: Long)

/**
 * Global aggregates gathered once per query and handed to scoring —
 * "doc-frequency and collection statistics … computed as global
 * aggregates and broadcast" (BASELINE.json:6).
 *
 * Collection statistics come off the view: a loaded snapshot sums the
 * counts its batch manifests recorded at commit (no job, like the
 * reference reading SegmentInfos); a view with no commit aggregates its
 * docmeta once ([[docmetaStats]]). Term statistics are one shuffle-free
 * scan of the query terms' dictionary rows, summed on the driver.
 *
 * Skew note: per-term global df is aggregated from per-(segment, term)
 * rows — already one row per segment per term, so a stopword-grade hot
 * term contributes ≤ #segments rows, i.e. the doc-range segment sharding
 * performed the salting. For aggregates computed directly over raw
 * posting occurrences, use [[saltedTermCounts]].
 */
object GlobalStats {

  def collectionStats(view: IndexView): CollectionStats = view.collectionStats

  /** docCount and Σ dl of a docmeta table: one aggregate job. */
  def docmetaStats(docmeta: Dataset[DocMetaRow]): CollectionStats = {
    val row = docmeta.agg(
      count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sttf")).head()
    CollectionStats(row.getLong(0), row.getLong(1))
  }

  /** Global stats for a small set of query terms: the ≤ #segments
    * dictionary rows per term, collected and summed on the driver.
    */
  def termStats(view: IndexView, terms: Seq[String]): Map[String, TermStats] =
    view.terms.filter(col("term").isin(terms: _*))
      .select("term", "df", "ctf")
      .collect()
      .groupMapReduce(_.getString(0))(r => (r.getLong(1), r.getLong(2))) {
        case ((df1, ctf1), (df2, ctf2)) => (df1 + df2, ctf1 + ctf2)
      }
      .map { case (t, (df, ctf)) => t -> TermStats(t, df, ctf) }

  /** Salted two-phase term-frequency aggregation over raw occurrences
    * (term → df, ctf): phase 1 groups by (term, salt) building partial
    * counts so a hot term spreads over `salts` reducers; phase 2 sums the
    * ≤`salts` partials per term. North-rule skew clause (BASELINE.json:14).
    */
  def saltedTermCounts(occurrences: org.apache.spark.sql.DataFrame,
                       salts: Int = 64): org.apache.spark.sql.DataFrame = {
    occurrences
      .withColumn("salt", pmod(col("doc_id"), lit(salts)))
      .groupBy("term", "salt")
      .agg(count(lit(1)).as("pdf"), sum("tf").as("pctf"))
      .groupBy("term")
      .agg(sum("pdf").as("df"), sum("pctf").as("ctf"))
  }
}
