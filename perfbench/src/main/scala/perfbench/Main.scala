package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.codec.PostingCodec
import graft.index.{DocInput, IndexReader, IndexStore, IndexView, IndexWriter, Indexer}
import graft.search.{ExactSearch, Query, QueryCompiler, QueryParser, QueryRequest}
import graft.stats.GlobalStats
import graft.streaming.NrtIngest
import graft.synth.CorpusSynth

/** CPU time of the whole machine, from the first line of /proc/stat. On
  * a virtual machine its `steal` column counts the time the hypervisor
  * ran other guests while this one had work: a timing taken while it
  * grows measures the host's load as much as the engine.
  */
object HostCpu {
  private val stat = Paths.get("/proc/stat")

  /** (steal, total) ticks; (0, 0) where /proc/stat is unreadable. */
  def ticks(): (Long, Long) =
    try {
      val in = Files.newBufferedReader(stat)
      val f = try in.readLine().trim.split("\\s+").drop(1).map(_.toLong) finally in.close()
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Benchmark program: runs one workload against indexes built fresh in a
  * private work directory and writes the raw measurements (set-up times,
  * per-operation latencies, builds, check outcomes, and — when traced —
  * spans and Spark jobs) as JSON. `run.py` reduces them to metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out.json>
  */
object Main {
  // Sizes are fixed so every run does the same amount of work per op.
  val BulkDocs = 30000L
  val QueryDocs = 20000L
  val NrtBatchDocs = 2000
  val NrtBagsPerCycle = 2
  val SetupReps = 3
  val TopK = 10
  val FingerprintOps = 8
  val LogSize = 400
  val WarmupQueries = 16
  // untimed full-size builds before the measured ones: with fewer, the
  // measured builds still get faster from one to the next
  val BulkWarmupBuilds = 5
  val QueryWarmupBuilds = 3

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench [${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2fs] $msg")

  /** One timed call: wall time and the share of the machine's CPU time
    * the hypervisor gave to other guests meanwhile ([[HostCpu]]).
    */
  final case class Timing(ms: Double, steal: Double) {
    def toMap: Map[String, Any] = Map("ms" -> ms, "steal" -> steal)
  }

  final case class Sample(cls: String, t: Timing, traced: Boolean, loop: Boolean)

  final class Run(val workload: String, val seed: Long, val seconds: Double,
                  val trace: Boolean, val work: String, val spark: SparkSession) {
    val tracer = new Tracer(spark.sparkContext)
    val listener = new JobListener
    val samples = mutable.ArrayBuffer.empty[Sample]
    val setups = mutable.ArrayBuffer.empty[Timing]
    val builds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[String]
    val micro = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    var textBytes = 0L
    var fingerprint = ""
    var inputHash = ""
    var termBlocks: Map[String, Long] = Map.empty
    var inTracedHalf = false
    var inLoop = false

    /** One attempted operation or check: a throw or a false result is a
      * failure, and a failed operation is never timed.
      */
    def attempt(what: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try { val b = body; if (!b) errors += s"$what: check failed"; b }
        catch { case NonFatal(e) =>
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false }
      if (!ok) failed += 1
      ok
    }

    def timed[A](body: => A): (A, Timing) = {
      val c0 = HostCpu.ticks()
      val t0 = System.nanoTime()
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      (r, Timing(ms, HostCpu.stealShare(c0, HostCpu.ticks())))
    }

    def sample(cls: String, t: Timing): Unit = samples += Sample(cls, t, inTracedHalf, inLoop)

    /** Record one set-up repetition. */
    def setupDone(body: => Unit): Unit = {
      val (_, t) = timed(body)
      setups += t
      note(f"set-up: ${t.ms / 1000}%.2fs")
    }

    /** Turn tracing on for the rest of the run. */
    def startTracing(): Unit = if (trace && !tracer.enabled) {
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      inTracedHalf = true
    }
  }

  private def corpusDs(spark: SparkSession, path: String): Dataset[DocInput] = {
    import spark.implicits._
    spark.read.parquet(path).as[DocInput]
  }

  private def writeCorpus(r: Run, n: Long): String = {
    val path = s"${r.work}/corpus"
    CorpusSynth.corpusWithIds(r.spark, n, Gen.corpusSeed(r.seed))
      .write.mode("overwrite").parquet(path)
    path
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  private def deleteDir(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Durable build of `corpus` into `dir`, recorded with its manifests. */
  private def build(r: Run, corpus: Dataset[DocInput], nDocs: Long, dir: String,
                    kind: String): Timing = {
    val (snap, t) = r.timed(r.tracer.span("index.build", attrs = Map("docs" -> nDocs)) {
      IndexWriter.build(r.spark, corpus, dir)
    })
    val manifests = snap.batches.flatMap(IndexStore.readManifest(dir, _))
    val docs = manifests.map(_.docs).sum
    val postings = manifests.map(_.postings).sum
    val bytes = manifests.map(_.bytes).sum
    r.tracer.annotateLast("index.build", Map("postings" -> postings, "manifest_bytes" -> bytes))
    r.builds += t.toMap ++ Map("kind" -> kind, "docs" -> docs,
      "postings" -> postings, "terms" -> manifests.map(_.terms).sum,
      "index_bytes" -> dirBytes(new java.io.File(dir)))
    r.attempt(s"$kind build doc count") { docs == nDocs }
    t
  }

  private def load(r: Run, dir: String): IndexView =
    r.tracer.span("index.load")(IndexReader.load(r.spark, dir))

  /** Set-up of `query_log`: generate and write the corpus, build the
    * index, open a reader — repeated [[SetupReps]] times, keeping the
    * last index.
    */
  private def setupIndex(r: Run, nDocs: Long): (String, IndexView) = {
    var last: (String, IndexView) = null
    for (i <- 0 until SetupReps) {
      val dir = s"${r.work}/index-$i"
      var view: IndexView = null
      r.setupDone {
        val path = writeCorpus(r, nDocs)
        build(r, corpusDs(r.spark, path), nDocs, dir, "setup")
        view = load(r, dir)
      }
      if (last != null) deleteDir(last._1)
      last = (dir, view)
    }
    r.textBytes = corpusDs(r.spark, s"${r.work}/corpus")
      .agg(sum(octet_length(col("text")))).head().getLong(0)
    last
  }

  private def termBag(op: Op): Query =
    if (op.and) Query.Bool(must = op.terms.map(Query.Term))
    else Query.Bool(should = op.terms.map(Query.Term))

  private def hits(rows: Array[org.apache.spark.sql.Row]): Array[(Long, Double)] =
    rows.map(row => (row.getAs[Long]("doc_id"), row.getAs[Double]("score")))

  /** Execute one query-log op: times it, checks it, records its spans.
    * An op issued on a fresh NRT snapshot (`nrt`) is recorded under its
    * own classes (sample `nrt_query`, span `nrt_<cls>`), apart from the
    * ops on the workload's base index.
    */
  private def runOp(r: Run, view: IndexView, op: Op, req: Int,
                    results: mutable.Map[Int, Array[(Long, Double)]], nrt: Boolean = false): Unit = {
    val tr = r.tracer
    val blocks = op.terms.map(t => r.termBlocks.getOrElse(t, 0L)).sum
    val attrs = Map[String, Any]("cls" -> (if (nrt) s"nrt_${op.cls}" else op.cls),
      "shape" -> op.shape, "terms" -> op.terms.size, "term_blocks" -> blocks)
    r.attempt(s"op $req ${op.cls} ${op.terms.mkString(",")}${op.q}") {
      val (res, t) = r.timed(tr.span("search.query", req, attrs) {
        op.cls match {
          case "or" | "and" =>
            hits(QueryCompiler.topK(r.spark, view, termBag(op), TopK).collect())
          case "exact" =>
            hits(ExactSearch.topK(r.spark, view, op.terms, TopK,
              minShouldMatch = if (op.and) op.terms.size else 1).collect())
          case "parsed" =>
            val q = tr.span("search.parse", req)(QueryParser.parse(op.q))
            val fq = if (op.fq.isEmpty) Nil else Seq(tr.span("search.parse", req)(QueryParser.parse(op.fq)))
            hits(QueryCompiler.search(r.spark, view, QueryRequest(q, fq, TopK)).collect())
        }
      })
      r.sample(if (nrt) "nrt_query" else op.cls, t)
      results(req) = res
      op.cls match {
        case "exact" => results.get(op.checks).exists(_.sameElements(res))
        case "parsed" if op.nonEmpty => res.nonEmpty
        case _ => true
      }
    }
  }

  private def loadTermBlocks(r: Run, view: IndexView): Unit =
    r.termBlocks = view.terms.groupBy("term").agg(sum("n_blocks")).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap

  /** Closed loop with one client for `seconds`; a traced run measures the
    * first half untraced and the second half traced.
    */
  private def loop(r: Run)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (r.seconds * 1e9).toLong
    val half = t0 + (r.seconds * 0.5e9).toLong
    var i = 0
    var tracedSteps = 0
    r.inLoop = true
    while (i == 0 || System.nanoTime() < end || (r.trace && tracedSteps == 0)) {
      if (r.trace && System.nanoTime() >= half) r.startTracing()
      if (r.tracer.enabled) tracedSteps += 1
      step(i)
      i += 1
    }
    r.inLoop = false
    note(s"loop: $i ops")
  }

  private def fingerprintOf(results: collection.Map[Int, Array[(Long, Double)]]): String = {
    val h = new Gen.Hasher
    (0 until FingerprintOps).foreach { i =>
      h.add(i.toString)
      results.get(i).foreach(_.foreach { case (d, s) => h.add(s"$d:$s") })
    }
    h.hex.take(16)
  }

  // — workloads —

  /** Untimed JVM warm-up: `n` full-size builds of `corpus`, so the
    * measured builds run on JIT-compiled code.
    */
  private def warmUpBuilds(r: Run, corpus: Dataset[DocInput], nDocs: Long, n: Int): Unit = {
    val dir = s"${r.work}/warm-index"
    for (_ <- 0 until n) {
      build(r, corpus, nDocs, dir, "warmup")
      load(r, dir)
      deleteDir(dir)
    }
    note("warm-up done")
  }

  /** After the loop, on every run: one NRT cycle on the workload's index
    * (marker visibility), then the snapshot's doc count must equal the
    * index's docs plus the ingested batch.
    */
  private def nrtCheck(r: Run, dir: String, nDocs: Long): Unit = {
    nrtCycle(r, dir, nDocs, 0).foreach { view =>
      r.attempt("nrt doc count equals base plus ingested") {
        GlobalStats.collectionStats(view).docCount == nDocs + NrtBatchDocs
      }
      r.micro("snapshot_batches") = IndexStore.currentSnapshot(dir).map(_.batches.size).getOrElse(0)
    }
  }

  private def bulkBuild(r: Run): Unit = {
    r.inputHash = Gen.corpusHash(new Gen.Hasher, r.seed, BulkDocs).hex
    var corpusPath = ""
    for (_ <- 0 until SetupReps) r.setupDone { corpusPath = writeCorpus(r, BulkDocs) }
    val corpus = corpusDs(r.spark, corpusPath)
    r.textBytes = corpus.agg(sum(octet_length(col("text")))).head().getLong(0)
    warmUpBuilds(r, corpus, BulkDocs, BulkWarmupBuilds)
    var lastDir = ""
    loop(r) { i =>
      val dir = s"${r.work}/bulk-$i"
      var t: Timing = null
      if (r.attempt(s"bulk build $i") { t = build(r, corpus, BulkDocs, dir, "timed"); true })
        r.sample("build", t)
      if (lastDir.nonEmpty) deleteDir(lastDir)
      lastDir = dir
    }
    val timed = r.builds.filter(_("kind") == "timed")
    r.attempt("bulk builds agree on postings and terms") {
      timed.map(b => (b("postings"), b("terms"))).distinct.size == 1
    }
    if (r.trace) probe(r, lastDir, BulkDocs)
    nrtCheck(r, lastDir, BulkDocs)
  }

  private def queryLog(r: Run): Unit = {
    val ops = Gen.queryLog(r.seed, QueryDocs, LogSize, salt = 2)
    r.inputHash = ops.foldLeft(Gen.corpusHash(new Gen.Hasher, r.seed, QueryDocs))(
      (h, o) => h.add(o.toString)).hex
    // the warm-up corpus is seeded apart from the measured one
    val warmPath = s"${r.work}/warm-corpus"
    CorpusSynth.corpusWithIds(r.spark, QueryDocs, Gen.derive(r.seed, 6)).write.parquet(warmPath)
    warmUpBuilds(r, corpusDs(r.spark, warmPath), QueryDocs, QueryWarmupBuilds)
    deleteDir(warmPath)
    val (dir, view) = setupIndex(r, QueryDocs)
    if (r.trace) loadTermBlocks(r, view)
    // untimed warm-up: query planning keeps getting faster over the first
    // dozens of queries of a JVM
    val warm = Gen.queryLog(r.seed, QueryDocs, WarmupQueries, salt = 7)
    val warmResults = mutable.HashMap.empty[Int, Array[(Long, Double)]]
    warm.zipWithIndex.foreach { case (op, i) => runOp(r, view, op, i, warmResults) }
    r.samples.clear()
    note("query warm-up done")
    val results = mutable.HashMap.empty[Int, Array[(Long, Double)]]
    loop(r) { i => runOp(r, view, ops(i % ops.size), i % ops.size, results) }
    r.fingerprint = fingerprintOf(results)
    if (r.trace) probe(r, dir, QueryDocs)
    nrtCheck(r, dir, QueryDocs)
  }

  /** One NRT cycle on the index in `dir` (base corpus of `base` docs):
    * commit micro-batch `c`, refresh the reader, require the batch's
    * marker query to return exactly the batch, then serve term bags on
    * the new snapshot. Returns the refreshed view when the cycle held.
    */
  private def nrtCycle(r: Run, dir: String, base: Long, c: Int): Option[IndexView] = {
    import r.spark.implicits._
    val docs = Gen.nrtBatch(r.seed, base, NrtBatchDocs, c)
    val batch = r.spark.createDataset(docs)
    var view: IndexView = null
    val ok = r.attempt(s"nrt cycle $c") {
      val (_, commit) = r.timed(r.tracer.span("streaming.ingest", c)(
        NrtIngest.ingestBatch(r.spark, batch, dir, c, Indexer.DefaultSegmentSize,
          Analyzer.EnglishStopWords)))
      val (found, rest) = r.timed {
        view = load(r, dir)
        r.tracer.span("search.query", c, Map("cls" -> "marker"))(
          hits(QueryCompiler.topK(r.spark, view, Query.Term(Gen.marker(c)), NrtBatchDocs + 1).collect()))
      }
      r.sample("nrt_commit", commit)
      r.sample("nrt_visible", Timing(commit.ms + rest.ms, math.max(commit.steal, rest.steal)))
      found.map(_._1).sorted.sameElements(docs.map(_.doc_id).sorted)
    }
    if (!ok) return None
    val results = mutable.HashMap.empty[Int, Array[(Long, Double)]]
    Gen.nrtBags(r.seed, c, NrtBagsPerCycle).zipWithIndex.foreach { case (op, j) =>
      runOp(r, view, op, j, results, nrt = true)
    }
    Some(view)
  }

  /** Traced runs only: exercise the layers the workload's loop does not
    * reach (or reaches only in part), so a traced run of any workload
    * reports every per-layer metric (the NRT cycle that follows covers
    * `streaming`).
    */
  private def probe(r: Run, dir: String, nDocs: Long): Unit = {
    r.startTracing()
    val tr = r.tracer
    val sample = Gen.analyzeSample(r.seed, 5000)
    val terms = tr.span("analysis.analyze", attrs = Map("docs" -> sample.length)) {
      sample.foldLeft(0L)((acc, t) => acc + Analyzer.analyze(t).dl)
    }
    r.micro("analyzed_terms") = terms
    val view = load(r, dir)
    loadTermBlocks(r, view)
    val ops = Gen.queryLog(r.seed, nDocs, 40, salt = 5)
    import r.spark.implicits._
    val blocks = view.postings.filter($"term".isin(ops.flatMap(_.terms).distinct: _*))
      .select("docs", "freqs", "norms", "doc_count").collect()
    val decoded = tr.span("codec.decode", attrs = Map("postings" -> blocks.map(_.getInt(3).toLong).sum)) {
      blocks.foldLeft(0L)((acc, b) =>
        acc + PostingCodec.decode(b.getAs[Array[Byte]](0), b.getAs[Array[Byte]](1),
          b.getAs[Array[Byte]](2)).docIds.length)
    }
    r.micro("decoded_postings") = decoded
    // the first OR, AND and exact op and every parsed string, so each
    // class and parsed shape is traced at least once
    val results = mutable.HashMap.empty[Int, Array[(Long, Double)]]
    ops.zipWithIndex.foreach { case (op, i) =>
      if (i < 3 || op.cls == "parsed") runOp(r, view, op, i, results)
    }
    if (r.workload != "bulk_build") {
      val corpus = corpusDs(r.spark, s"${r.work}/corpus").filter(col("doc_id") < 10000L)
      build(r, corpus, 10000L, s"${r.work}/probe-build", "probe")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println("usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out.json>")
      sys.exit(2)
    }
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    note("session up")
    val r = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1", work, spark)
    var fatal = ""
    try workload match {
      case "bulk_build" => bulkBuild(r)
      case "query_log"  => queryLog(r)
      case other        => fatal = s"unknown workload '$other'"
    } catch {
      case NonFatal(e) =>
        fatal = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    if (r.trace) r.listener.drain()
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> r.seed, "trace" -> r.trace, "slots" -> cpus,
      "fatal" -> fatal, "attempted" -> r.attempted, "failed" -> r.failed,
      "errors" -> r.errors.take(50).toSeq, "input_hash" -> r.inputHash,
      "fingerprint" -> r.fingerprint, "setups" -> r.setups.toSeq.map(_.toMap),
      "builds" -> r.builds.toSeq, "text_bytes" -> r.textBytes,
      "samples" -> r.samples.toSeq.map(s => s.t.toMap ++ Map("cls" -> s.cls,
        "traced" -> s.traced, "loop" -> s.loop)),
      "micro" -> r.micro.toMap,
      "spans" -> r.tracer.toJson, "jobs" -> (if (r.trace) r.listener.toJson else Nil))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(out), mapper.writeValueAsBytes(result))
    spark.stop()
    if (fatal.nonEmpty) sys.exit(1)
  }
}
