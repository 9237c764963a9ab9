package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.index.{DocInput, IndexReader, IndexWriter, Indexer}
import graft.search.{BmwSearch, DoubleOracle, ExactSearch}
import graft.streaming.{NrtIngest, WindowedAggs}
import graft.synth.CorpusSynth

/** Streaming: NRT segment ingestion (micro-batch → committed batch +
  * snapshot bump; restart-idempotent) and watermarked windowed aggs.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("NRT ingest: streamed corpus == bulk-built corpus, snapshot per batch") {
    import spark.implicits._
    val n = 600L
    val docs = CorpusSynth.corpusWithIds(spark, n, seed = 7L)
      .as[(Long, String, String)].collect()
      .map(t => DocInput(t._1, t._2, t._3))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocInput]
    val dir = SparkTestBase.tempDir("graft-nrt")
    // processing-time trigger: AvailableNow would snapshot offsets at
    // start and never see data added afterwards
    val q = NrtIngest.start(spark, mem.toDS(), dir, SparkTestBase.tempDir("graft-nrt-ckpt"),
      segSize = 256L, trigger = Trigger.ProcessingTime("100 milliseconds"))

    mem.addData(docs.take(300).toSeq: _*)
    q.processAllAvailable()
    mem.addData(docs.drop(300).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val snap = graft.index.IndexStore.currentSnapshot(dir).get
    assert(snap.batches.size >= 1) // AvailableNow may fold adds into one batch

    // streamed index answers == bulk index answers
    val streamed = IndexReader.load(spark, dir).persisted()
    val bulkDir = SparkTestBase.tempDir("graft-bulk")
    IndexWriter.build(spark, spark.createDataset(docs.toIndexedSeq), bulkDir, 256L)
    val bulk = IndexReader.load(spark, bulkDir).persisted()
    val qterms = Seq("w0001", "w0010")
    val a = ExactSearch.topK(spark, streamed, qterms, 10, DoubleOracle).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = ExactSearch.topK(spark, bulk, qterms, 10, DoubleOracle).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    assert(streamed.docmeta.count() == bulk.docmeta.count())
    // the reloaded NRT snapshot's commit stats equal its docmeta aggregate
    assert(streamed.committedStats.isDefined)
    assert(graft.stats.GlobalStats.collectionStats(streamed) ==
      graft.stats.GlobalStats.docmetaStats(streamed.docmeta))
  }

  test("BMW == exact on a streamed index whose batches share a segment") {
    import spark.implicits._
    // one big segment: both micro-batches write block rows into segment
    // 0, each numbering its blocks from 0 — the TermCursor must order
    // blocks by first_doc_id, not block_id (advisor finding, round 1)
    val docs = CorpusSynth.corpusWithIds(spark, 600, seed = 13L)
      .as[(Long, String, String)].collect()
      .map(t => DocInput(t._1, t._2, t._3))
    val dir = SparkTestBase.tempDir("graft-nrt-sharedseg")
    NrtIngest.ingestBatch(spark, spark.createDataset(docs.take(300).toIndexedSeq),
      dir, 0L, 100000L, Set.empty)
    NrtIngest.ingestBatch(spark, spark.createDataset(docs.drop(300).toIndexedSeq),
      dir, 1L, 100000L, Set.empty)
    val view = IndexReader.load(spark, dir).persisted()
    assert(view.postings.select("segment_id").distinct().count() == 1)
    // interleaved block_ids really exist (both batches wrote block 0)
    assert(view.postings.filter("block_id = 0").count() >
      view.postings.select("term").distinct().count() / 2)
    for (q <- Seq(Seq("w0000"), Seq("w0001", "w0010"),
                  Seq("w0000", "w0005", "w0011"))) {
      val a = ExactSearch.topK(spark, view, q, 10, DoubleOracle).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toList
      val b = BmwSearch.topK(spark, view, q, 10, DoubleOracle).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(a == b, s"streamed-index rank mismatch for $q:\n exact=$a\n bmw=$b")
    }
  }

  test("re-delivered micro-batch is idempotent (manifest skip)") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => DocInput(i, s"u$i", s"alpha beta w$i"))
    val dir = SparkTestBase.tempDir("graft-nrt-idem")
    val ds = spark.createDataset(docs)
    NrtIngest.ingestBatch(spark, ds, dir, 0L, 64L, Set.empty)
    val m1 = graft.index.IndexStore.readManifest(dir, NrtIngest.StreamBatchBase).get
    NrtIngest.ingestBatch(spark, ds, dir, 0L, 64L, Set.empty) // re-delivery
    val m2 = graft.index.IndexStore.readManifest(dir, NrtIngest.StreamBatchBase).get
    assert(m1 == m2) // batch not rewritten
    val snap = graft.index.IndexStore.currentSnapshot(dir).get
    assert(snap.batches == Seq(NrtIngest.StreamBatchBase))
  }

  test("watermarked tumbling window aggregates by event-time day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WindowedAggs.Event]
    val out = WindowedAggs.tumblingDaily(mem.toDS(), lateness = "0 seconds")
    def ev(day: Int, hour: Int, t: String, v: Double) =
      WindowedAggs.Event(java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00"), t, v)
    // add before start: AvailableNow processes offsets present at start
    mem.addData(ev(1, 3, "click", 1.5), ev(1, 22, "click", 2.25),
      ev(2, 1, "click", 4.0), ev(2, 5, "view", 1.0))
    val q = out.writeStream.format("memory").queryName("wa")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.awaitTermination(30000)
    q.stop()
    val rows = spark.sql("SELECT * FROM wa").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set(
      ("2024-01-01", "click", 2L, 375L),
      ("2024-01-02", "click", 1L, 400L),
      ("2024-01-02", "view", 1L, 100L)))
  }

  test("flatMapGroupsWithState accumulates keyed state ACROSS micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WindowedAggs.Event]
    val out = WindowedAggs.runningState(mem.toDS())
      .toDF("event_type", "n", "sum_cents", "max_cents")
    def ev(t: String, v: Double) =
      WindowedAggs.Event(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), t, v)
    val q = out.writeStream.format("memory").queryName("scs_test")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    mem.addData(ev("click", 1.5), ev("click", 2.25), ev("view", 1.0))
    q.processAllAvailable()
    mem.addData(ev("click", 0.75)) // SECOND batch: state must carry over
    q.processAllAvailable()
    q.stop()
    val finals = spark.sql("SELECT * FROM scs_test").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (k, rs) => rs.maxBy(_._2) }.toSet
    assert(finals == Set(
      ("click", 3L, 450L, 225L), // 150+225+75 cents, max 225, ACROSS batches
      ("view", 1L, 100L, 100L)))
  }

  test("stream-stream interval join matches across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val events = mem.toDS().toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.streaming.StreamJoin.clickViewAttribution(events, "2 hours")
    def ev(id: Long, t: String, user: Long, mins: Int) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 ${mins / 60}%02d:${mins % 60}%02d:00"),
        user, t)
    val q = out.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    // batch 1: views only — no output yet, view state buffered
    mem.addData(ev(1, "view", 7, 0), ev(2, "view", 7, 30), ev(3, "view", 8, 10))
    q.processAllAvailable()
    // batch 2: clicks — must join the BUFFERED views from batch 1
    mem.addData(
      ev(10, "click", 7, 60),  // views 1 and 2 (same user, within 2h)
      ev(11, "click", 8, 300), // user 8's view is 4h50m earlier: outside
      ev(12, "click", 9, 90))  // user 9 has no views
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT click_id, view_id FROM ssj_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 1L), (10L, 2L)))
  }
}
