package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.synth.CorpusSynth

/** The spark-submit operational surface: docID assignment must be a pure
  * function of the data (never of partitioning), and the build → describe
  * → search round trip must agree with the library path.
  */
class IndexCliSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("assignDocIds: rank of the url sort, identical at any partitioning") {
    val web = CorpusSynth.corpus(spark, 500, seed = 99L)
    val a = IndexCli.assignDocIds(spark, web.repartition(1))
      .orderBy("doc_id").as[(Long, String, String)].collect()
    val b = IndexCli.assignDocIds(spark, web.repartition(13))
      .orderBy("doc_id").as[(Long, String, String)].collect()
    assert(a.toSeq == b.toSeq)
    // rank really is the url sort order and ids are dense from 0
    assert(a.map(_._2).toSeq == a.map(_._2).sorted.toSeq)
    assert(a.map(_._1).toSeq == (0L until 500L))
    // text rides along unchanged
    val byUrl = web.select("url", "text").as[(String, String)].collect().toMap
    assert(a.forall { case (_, url, text) => byUrl(url) == text })
  }

  test("cli build on the web shape == library build on the same docs") {
    val tmp = SparkTestBase.tempDir("graft-clispec")
    val web = CorpusSynth.corpus(spark, 300, seed = 7L)
    web.write.mode("overwrite").parquet(s"$tmp/web.parquet")

    IndexCli.run(spark, Array("build", s"$tmp/web.parquet", s"$tmp/idx", "2", "64", "1"))
    val view = index.IndexReader.load(spark, s"$tmp/idx")

    // same top-k as building straight from the assigned-id frame
    val shaped = IndexCli.assignDocIds(spark, web)
    val refView = index.Indexer.buildTables(spark,
      index.Indexer.asDocInput(spark, shaped), 64L)
    val q = Seq("w0003", "w0031")
    val got = search.BmwSearch.topK(spark, view, q, 10, search.DoubleOracle)
      .as[(Long, Double)].collect().toSeq
    val want = search.ExactSearch.topK(spark, refView, q, 10, search.DoubleOracle)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)

    // lineage manifests cover the doc range with per-batch metrics
    val snap = index.IndexStore.currentSnapshot(s"$tmp/idx").get
    val ms = snap.batches.flatMap(index.IndexStore.readManifest(s"$tmp/idx", _))
    assert(ms.map(_.docs).sum == 300L)
    assert(ms.forall(m => m.postings > 0 && m.bytes > 0 && m.terms > 0))
  }
}
