package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TrainingData

/** Tests of the dedup / text-analysis operators: differential
  * (LSH path == exact path), brute-force cross-checks on small data,
  * and controlled near-dup corpora where the interesting cases are
  * guaranteed to exist.
  */
class TrainingDataSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Crafted corpus with exact dups and near-dups, written as a
    * documents.parquet-shaped table in a temp dir.
    */
  lazy val corpusDir: String = {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
    val nearDup = base.replace("w20", "w99")        // 1 token of 20 changed
    val nearDup2 = base.replace("w10", "zz")        // middle token changed
    val other = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 a15 a16"
    val rows = Seq(
      (0L, base), (1L, base),                        // exact dup pair
      (2L, nearDup), (3L, nearDup2),                 // near dups of 0/1
      (4L, other), (5L, "x1 x2 x3"),                 // unrelated
      (6L, other + " a17")                           // near dup of 4
    )
    val dir = SparkTestBase.tempDir("graft-td")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_exact groups identical texts under one hash") {
    val r = TrainingData.dedupExact(spark, corpusDir).collect()
    assert(r.length == 6) // 7 docs, one exact-dup pair collapsed
    val dupGroup = r.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(2) == 0L) // keeper = min doc_id
  }

  test("chunking: fixed windows with overlap, brute-force differential") {
    // size=8, overlap=3 (stride 5) over the crafted corpus (3..21 tokens)
    val got = TrainingData.chunkDocuments(spark, corpusDir, 8, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    import spark.implicits._
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expect = docs.flatMap { case (id, text) =>
      val toks = text.split(' ')
      val n = math.max(1, math.ceil((toks.length - 3) / 5.0).toInt)
      (0 until n).map { i =>
        val c = toks.slice(i * 5, i * 5 + 8)
        (id, i.toLong, c.length.toLong, c.mkString(" "))
      }
    }.toSet
    assert(got == expect)
    // consecutive chunks of one doc share exactly `overlap` tokens
    val c0 = got.filter(t => t._1 == 0L).toSeq.sortBy(_._2).map(_._4.split(' ').toSeq)
    c0.sliding(2).foreach {
      case Seq(a, b) => assert(a.takeRight(3) == b.take(3))
      case _ =>
    }
  }

  test("shingles are the distinct word 3-grams") {
    val sh = TrainingData.shingles(spark, corpusDir)
      .where(col("doc_id") === 5L) // "x1 x2 x3"
      .collect().map(_.getString(1)).toSet
    assert(sh == Set("x1 x2 x3"))
    val sh4 = TrainingData.shingles(spark, corpusDir)
      .where(col("doc_id") === 4L).count()
    assert(sh4 == 14) // 16 tokens → 14 3-grams, all distinct
  }

  test("exact ngram-Jaccard pairs find the planted near-dups") {
    val pairs = TrainingData.dedupNgramPairs(spark, corpusDir, thresholdQ = 7000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys = pairs.map(p => (p._1, p._2))
    assert(keys.contains((0L, 1L))) // exact dup: jaccard 10000
    assert(pairs.find(p => p._1 == 0L && p._2 == 1L).get._3 == 10000L)
    assert(keys.contains((4L, 6L))) // 14 shared / 15 union = 9333
    // 18-token-window change: doc2 differs from doc0 in 3 of 18 shingles
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(!keys.exists(p => p._2 == 5L || p._1 == 5L)) // unrelated doc
  }

  test("MinHash+LSH path equals the exact path (differential)") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = norm(TrainingData.dedupNgramPairs(spark, corpusDir, 7000L))
    val lsh = norm(TrainingData.dedupMinhashLsh(spark, corpusDir, 7000L))
    assert(lsh == exact)
    // and on the driver corpus at sf0.001 with the default threshold
    val sf = "/root/testdata/sf0.001"
    val e2 = norm(TrainingData.dedupNgramPairs(spark, sf))
    val l2 = norm(TrainingData.dedupMinhashLsh(spark, sf))
    assert(l2 == e2)
    assert(e2.nonEmpty) // the driver corpus does contain near-dups
  }

  test("LSH hot bucket: 10k copies of one doc complete via the star path") {
    import spark.implicits._
    // a boilerplate cluster far above MaxBucket: all-pairs would be
    // ~5·10⁷ pair rows from ONE bucket; the star path emits 9,999
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val cluster = (0L until 10000L).map(i => (i, boiler))
    val normals = (10000L until 10050L).map(i => (i, s"u$i v$i w$i x$i y$i"))
    val corpus = (cluster ++ normals).toDF("doc_id", "text")
    val pairs = TrainingData.dedupMinhashLshDf(spark, corpus, 8000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every cluster member is flagged as a duplicate of the hub (min id)
    assert(pairs == (1L until 10000L).map(j => (0L, j)).toSet)
  }

  test("simhash: identical texts → identical hash; near-dups → close") {
    val h = TrainingData.dedupSimhash(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(0L), h(2L)) <= 16)  // 1-word change
    assert(hamming(h(0L), h(4L)) >= 16)  // unrelated text
  }

  test("langId / qualityScore / tokenCounts agree with brute force") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val stop = graft.analysis.Analyzer.EnglishStopWords
    val lang = TrainingData.langId(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val qual = TrainingData.qualityScore(spark, corpusDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val toks = TrainingData.tokenCounts(spark, corpusDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(' ')
      val nStop = ws.count(stop.contains)
      assert(lang(id) == (if (ws.nonEmpty && 100 * nStop > 15 * ws.length) "en" else "unk"))
      val (nt, nc, sp, mwl) = qual(id)
      assert(nt == ws.length && nc == text.length)
      assert(sp == 1000L * nStop / ws.length)
      assert(mwl == 100L * ws.map(_.length).sum / ws.length)
      assert(toks(id)._1 == ws.length)
      assert(toks(id)._2 == "[a-z0-9]+".r.findAllIn(text).size)
    }
  }

  test("embedding near-dup: exact dups pair at cos2_q=10000; 0.95/0.97 pairs excluded") {
    // crafted corpus: only the exact-dup pair (0,1) reaches cos ≥ 0.99 —
    // the 19/20-token near-dups sit at cos ≈ 0.95 and must NOT match
    val r = TrainingData.dedupEmbedding(spark, corpusDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((0L, 1L, 10000L)))
  }

  test("embedding near-dup: LSH path equals independent brute force (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val got = TrainingData.dedupEmbedding(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    // independent reimplementation: md5-first-byte feature buckets in
    // plain Scala, all-pairs integer cosine test
    def vec(text: String): Array[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val v = new Array[Long](64)
      text.split(' ').filter(_.nonEmpty).foreach { t =>
        val b = (md.digest(t.getBytes("UTF-8"))(0) & 0xff) % 64
        v(b) += 1
      }
      v
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), vec(r.getString(1)))).sortBy(_._1)
    val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for (a <- docs.indices; b <- (a + 1) until docs.length) {
      val (ia, va) = docs(a); val (jb, vb) = docs(b)
      var dot = 0L; var na2 = 0L; var nb2 = 0L
      var d = 0
      while (d < 64) {
        dot += va(d) * vb(d); na2 += va(d) * va(d); nb2 += vb(d) * vb(d); d += 1
      }
      if (dot > 0 && 10000L * dot * dot >= 9801L * na2 * nb2)
        want += ((ia, jb, (10000L * dot * dot) / (na2 * nb2)))
    }
    assert(got == want.toSet)
    assert(got.nonEmpty)
  }

  test("embedding LSH planes are balanced (sum 0 per row)") {
    TrainingData.embPlanes.foreach(r => assert(r.sum == 0 && r.length == 64))
  }

  test("doc fingerprint: equal for exact dups, stable") {
    val f = TrainingData.docFingerprint(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f(0L) == f(1L))
    assert(f(0L) != f(4L))
    val f2 = TrainingData.docFingerprint(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f == f2)
  }

  /** Driver-side union-find ground truth for component labels. */
  private def bruteComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def engineComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    TrainingData.connectedComponents(pairs.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents: long chain (diameter > round cap) via pointer jump") {
    // path 100-101-...-140: diameter 40 > the 20-round cap — only the
    // pointer jump makes this converge
    val chain = (100L until 140L).map(i => (i, i + 1))
    val got = engineComponents(chain)
    assert(got.keySet == (100L to 140L).toSet)
    assert(got.values.toSet == Set(100L))
  }

  test("connectedComponents equals union-find on deterministic random graphs") {
    for (seed <- Seq(1L, 2L, 3L)) {
      // deterministic pseudo-random sparse graph: 60 nodes, 45 edges
      def h(x: Long): Long = {
        var z = x + seed * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val pairs = (0 until 45).map { e =>
        val a = java.lang.Long.remainderUnsigned(h(2L * e), 60L)
        val b = java.lang.Long.remainderUnsigned(h(2L * e + 1), 60L)
        (a, if (a == b) (b + 1) % 60L else b)
      }
      assert(engineComponents(pairs) == bruteComponents(pairs), s"seed=$seed")
    }
  }

  test("connectedComponents of an empty pair set is empty") {
    assert(engineComponents(Seq.empty).isEmpty)
  }

  test("pack_sequences: bin assignment is parallelism-independent and equals brute force") {
    val sf = "/root/testdata/sf0.001"
    def collectBins(parts: Int) =
      TrainingData.packSequences(spark, sf, budget = 512L, parts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val p1 = collectBins(1)
    val p8 = collectBins(8)
    assert(p1 == p8) // same bins at every parallelism
    // brute force on the driver
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(_._1)
    var run = 0L
    val want = docs.map { case (id, tok) =>
      val bin = run / 512L; run += tok; (bin, id, tok)
    }.groupBy(_._1).map { case (bin, rows) =>
      (bin, rows.length.toLong, rows.map(_._3).sum,
        rows.map(_._2).min, rows.map(_._2).max)
    }.toSeq.sortBy(_._1)
    assert(p8 == want)
  }

  test("sample_stratified: deterministic md5-threshold draw matches brute force") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.sampleStratified(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def hex2(s: String): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      f"${b(0) & 0xff}%02x"
    }
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = rows.filter { case (id, lang) =>
      val thr = lang match { case "en" => "80"; case "zh" => "20"; case _ => "40" }
      hex2(s"$id:$lang") < thr
    }.groupBy(_._2).map { case (lang, rs) =>
      (lang, rs.length.toLong, rs.map(_._1).sum)
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("quality_quantile equals brute-force interpolated percentile filter") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.qualityQuantile(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def pct60(xs: Seq[Long]): Double = {
      val s = xs.sorted; val rank = (s.size - 1) * 0.6
      val lo = s(rank.toInt); val hi = s(math.ceil(rank).toInt)
      lo + (rank - rank.toInt) * (hi - lo)
    }
    val want = rows.groupBy(_._1).map { case (lang, rs) =>
      val thr = pct60(rs.map(_._3).toSeq)
      val kept = rs.filter(_._3 >= thr)
      (lang, kept.length.toLong, kept.map(_._2).sum)
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("mixture weights: alpha=0.5 smoothing, exact integer grid, sums <= 1e6") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.mixtureWeights(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val per = rows.groupBy(_._1).map { case (src, rs) =>
      (src, rs.length.toLong, rs.map(_._2).sum,
        math.floor(math.sqrt(rs.length.toDouble) * 1000).toLong)
    }
    val tot = per.map(_._4).sum
    val want = per.map { case (src, n, ch, sq) =>
      (src, n, ch, sq * 1000000L / tot) }.toSet
    assert(got.toSet == want)
    // floor division: the ppm weights sum to at most one million, and
    // small sources are up-weighted relative to their doc share
    assert(got.map(_._4).sum <= 1000000L)
    val (nTot, byN) = (rows.length.toLong, got.sortBy(_._2))
    val (small, large) = (byN.head, byN.last)
    if (small._2 < large._2) {
      // ppm-per-doc must be strictly higher for the smaller source
      assert(small._4 * large._2 > large._4 * small._2, s"n_total=$nTot")
    }
  }

  test("source_cap keeps exactly cap deterministic survivors per source") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.sourceCap(spark, sf, cap = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = rows.groupBy(_._1).map { case (src, rs) =>
      val kept = rs.sortBy(r => (md5hex(r._2.toString), r._2)).take(10)
      (src, kept.length.toLong, kept.map(_._2).sum)
    }.toSet
    assert(got == want)
    // same survivors at another parallelism (partitioned window is
    // scheduling-independent)
    val again = TrainingData.sourceCap(spark, sf, cap = 10)
      .repartition(7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == want)
  }

  test("curation_pipeline: stages actually drop docs and bins partition the survivors") {
    val sf = "/root/testdata/sf0.001"
    val bins = TrainingData.curationPipeline(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(bins.nonEmpty)
    val nEn = spark.read.parquet(s"$sf/documents.parquet")
      .where(org.apache.spark.sql.functions.col("lang") === "en").count()
    val kept = bins.map(_._2).sum
    assert(kept > 0 && kept < nEn, s"quantile/dedup stages must drop docs ($kept of $nEn)")
    // bins are a contiguous partition: every bin except possibly the
    // last is filled past the budget by its final doc
    assert(bins.map(_._1).toSeq == bins.indices.map(_.toLong))
  }

  test("lm_surprisal equals brute-force quantized unigram surprisal") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.lmSurprisal(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val ctf = docs.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.length }
    val qLn = ctf.map { case (t, c) => t -> math.round(math.log(c.toDouble) * 10000) }
    val total = docs.map(_._2.size).sum
    val qN = math.round(math.log(total.toDouble) * 10000)
    val want = docs.map { case (id, ts) =>
      id -> (ts.size.toLong, ts.size * qN - ts.map(qLn).sum)
    }.toMap
    assert(got == want)
    // sanity: rarer-token docs have strictly higher mean surprisal than
    // an all-stopword-frequency doc would — every value positive
    assert(got.values.forall(_._2 > 0))
  }

  test("dup_ngram_prune equals brute-force sliding 5-grams") {
    val sf = "/root/testdata/sf0.001"
    val got = TrainingData.dupNgramPrune(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq
        .sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSet)
    val sdf = docs.flatMap(_._2.map(_ -> 1)).groupBy(_._1)
      .map { case (s, xs) => s -> xs.length }
    val want = docs.map { case (id, grams) =>
      id -> (grams.size.toLong, grams.count(g => sdf(g) > 1).toLong)
    }.filter(_._2._1 > 0).toMap
    assert(got == want)
  }

  test("dsir importance weights equal brute-force hashed-bucket computation") {
    import spark.implicits._
    val rows = Seq(
      (0L, "aaa bbb ccc aaa target target", "en"),
      (1L, "bbb ccc ddd eee", "de"),
      (2L, "aaa aaa fff target", "en"),
      (3L, "ggg hhh ddd ddd noise noise", "fr"),
      (4L, "ccc target", "en"))
    val dir = SparkTestBase.tempDir("graft-dsir")
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TrainingData.dsirImportance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute force: same md5-first-byte buckets, Laplace, micro-nat dot
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Int = (md.digest(t.getBytes("UTF-8"))(0) & 0xff) % 64
    val toks = rows.map { case (id, text, lang) =>
      (id, text.split(' ').filter(_.nonEmpty).toSeq, lang) }
    val rc = Array.fill(64)(0L); val tc = Array.fill(64)(0L)
    toks.foreach { case (_, ts, lang) =>
      ts.foreach { t => val b = bucket(t); rc(b) += 1
        if (lang == "en") tc(b) += 1 } }
    val rt = rc.sum.toDouble; val tt = tc.sum.toDouble
    def rhalf(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val lrq = Array.tabulate(64)(b => rhalf(
      (math.log((tc(b) + 1.0) / (tt + 64)) -
       math.log((rc(b) + 1.0) / (rt + 64))) * 1e6))
    val want = toks.map { case (id, ts, _) =>
      (id, ts.map(t => lrq(bucket(t)).toLong).sum) }.toMap
    assert(got == want)
    // target-only vocabulary pulls en docs up: the en docs (which carry
    // 'target') outweigh the non-en docs on average
    val en = Set(0L, 2L, 4L)
    val enAvg = en.toSeq.map(got).sum.toDouble / en.size
    val otherAvg = got.filterNot(kv => en(kv._1)).values.sum.toDouble / 2
    assert(enAvg > otherAvg)
  }

  test("semdedup: fixed-seed assignment + within-cluster cosine dup rule") {
    import spark.implicits._
    // dim-4 crafted geometry: seeds 0/1 span two axes; 2 and 3 are
    // scaled copies (cosine exactly 1 → dup); 4 sits between the seeds
    // (tie → seed 0) but below tau; 5 is orthogonal to both (tie → 0)
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(2f, 0f, 0f, 0f)), (3L, Seq(0f, 3f, 0f, 0f)),
      (4L, Seq(1f, 1f, 0f, 0f)), (5L, Seq(0f, 0f, 1f, 0f)))
    val dir = SparkTestBase.tempDir("graft-semd")
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = TrainingData.semDedup(spark, dir, kSeeds = 2, tauQ = 950000L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> (0L, 0L), 1L -> (1L, 0L),
      2L -> (0L, 1L), 3L -> (1L, 1L),
      4L -> (0L, 0L), 5L -> (0L, 0L)))
  }

  test("gopher rules: per-rule flags equal hand-computed values") {
    import spark.implicits._
    // "the"/"of" are stopwords; exactly the first doc passes all rules
    val rows = Seq(
      (0L, "the quality of training corpora matters very much indeed here today"),
      (1L, "the of tiny"),                       // too few words
      (2L, "the of aa bb cc dd ee ff gg hh ii jj"), // mean word length 220 < 300
      (3L, "quality training corpora filtering rules applied without any function words here"))
    val dir = SparkTestBase.tempDir("graft-gopher")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TrainingData.gopherRules(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val stop = graft.analysis.Analyzer.EnglishStopWords
    val want = rows.map { case (id, text) =>
      val w = text.split(' ').filter(_.nonEmpty)
      val okW = if (w.length >= 10 && w.length <= 100000) 1L else 0L
      val meanC = 100L * w.map(_.length.toLong).sum / w.length
      val okL = if (meanC >= 300 && meanC <= 1000) 1L else 0L
      val okS = if (w.distinct.count(stop) >= 2) 1L else 0L
      (id, (okW, okL, okS, okW * okL * okS))
    }.toMap
    assert(got == want)
    assert(got(0L) == ((1L, 1L, 1L, 1L)))       // the intended keeper
    assert(got.values.count(_._4 == 1L) == 1)   // and only it
  }

  test("ccnet buckets: per-lang terciles of quantized per-token surprisal") {
    val got = TrainingData.ccnetBucket(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.length == 7) // every doc gets exactly one bucket
    // brute force: the same integer surprisal + interpolated terciles
    val texts = spark.read.parquet(s"$corpusDir/documents.parquet")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val toks = texts.map { case (id, t) =>
      (id, t.split(' ').filter(_.nonEmpty).toSeq) }
    val ctf = toks.flatMap(_._2).groupBy(identity).map { case (t, xs) =>
      (t, xs.length.toLong) }
    val qLn = ctf.map { case (t, c) => (t, math.round(math.log(c.toDouble) * 10000)) }
    val total = ctf.values.sum
    val qLnN = math.round(math.log(total.toDouble) * 10000)
    val ppl = toks.map { case (id, ts) =>
      (id, (ts.size * qLnN - ts.map(qLn).sum) / ts.size) }.toMap
    def pct(vs: Seq[Long], p: Double): Double = {
      val s = vs.sorted; val r = p * (s.length - 1)
      val l = r.toInt; val f = r - l
      if (l + 1 < s.length) s(l) + f * (s(l + 1) - s(l)) else s(l).toDouble
    }
    val vs = ppl.values.toSeq // single-lang corpus
    val (t1, t2) = (pct(vs, 1.0 / 3), pct(vs, 2.0 / 3))
    got.foreach { case (id, lang, pplQ, bucket) =>
      assert(lang == "en" && pplQ == ppl(id))
      val want = if (pplQ <= t1) "head" else if (pplQ <= t2) "middle" else "tail"
      assert(bucket == want, s"doc $id ppl $pplQ t1=$t1 t2=$t2")
    }
    assert(got.map(_._4).distinct.length == 3) // all three buckets occur
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("text profile signature: quant rule, serialization order, dup detection") {
    import spark.implicits._
    val rows = Seq(
      (0L, "x1 x2 x3"),                         // maxfreq 1 -> quant 1
      (1L, "x1 x2 x3"),                         // exact dup of 0
      (2L, "x1 x2 x9"),                         // near dup, must differ
      (3L, "b1 b1 b1 b1 b1 b1 c1 c1 d1"),       // maxfreq 6 > 4 -> quant 2
      (4L, "z w9 q")                            // 1-char tokens dropped
    )
    val dir = SparkTestBase.tempDir("graft-tps")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TrainingData.textProfileSignature(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(0L) == ((1L, md5hex("x1 1 x2 1 x3 1"))))
    assert(got(1L) == got(0L))                  // exact dup -> same signature
    assert(got(2L)._2 != got(0L)._2)            // near dup -> different
    // quant 2: b1 keeps 6, c1 keeps 2, d1 (count 1 < quant) drops
    assert(got(3L) == ((2L, md5hex("b1 6 c1 2"))))
    assert(got(4L) == ((1L, md5hex("w9 1"))))   // 1-char tokens never counted
  }

  test("exact_substr_dedup cuts exactly the corpus-duplicated 8-gram spans") {
    val k = 8
    val got = TrainingData.exactSubstrDedup(spark, corpusDir, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // brute force over the crafted corpus
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ')).toMap
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, toks) <- docs; i <- 0 to toks.length - k)
      gramCount.updateWith(toks.slice(i, i + k).mkString(" "))(
        c => Some(c.getOrElse(0) + 1))
    for ((id, toks) <- docs) {
      val covered = (for {
        i <- 0 to toks.length - k
        if gramCount(toks.slice(i, i + k).mkString(" ")) > 1
        p <- i until i + k
      } yield p).toSet
      val clean = toks.indices.filterNot(covered).map(toks).mkString(" ")
      assert(got(id) == ((toks.length.toLong, covered.size.toLong,
        md5hex(clean))), s"doc $id")
    }
    // the exact-dup pair is fully covered; the unrelated short doc untouched
    assert(got(0L)._2 == 20L && got(1L)._2 == 20L)
    assert(got(5L)._2 == 0L)
    // near-dup of doc 0 (last token changed): the shared 19-token prefix
    // is covered (positions 0..18), the changed tail token survives
    assert(got(2L)._2 == 19L)
  }

  test("url keep-best dedup keeps the longest page per canonical URL") {
    import spark.implicits._
    // doc_ids 0/100/200 share host doc_id%50=0 and path doc_id%100=0
    val rows = Seq((0L, "short"), (100L, "the longest text wins here"),
      (200L, "mid length"), (7L, "alone"))
    val dir = SparkTestBase.tempDir("graft-udb")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TrainingData.urlDedupBest(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("http://example0.com/p/0") == ((3L, 100L)))
    assert(got("http://example7.com/p/7") == ((1L, 7L)))
  }

  test("mixture allocation: identical at every partition count (prefix-sum)") {
    val dir = "/root/testdata/sf0.001"
    def run(parts: Int) =
      TrainingData.mixtureAllocate(spark, dir, 10000L, parts)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val seq1 = run(1) // single partition = trivially-correct sequential scan
    assert(seq1.nonEmpty)
    for (p <- Seq(2, 5, 8)) assert(run(p) == seq1, s"parts=$p")
  }

  test("cluster keeper = longest member of each near-dup cluster") {
    val got = TrainingData.clusterKeepBest(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // crafted corpus: docs 0/1 exact dups, 2/3 near dups of them (all
    // same length 20 toks => keeper = min id); 4/6 near-dup pair where
    // 6 is one token LONGER => keeper = 6 despite larger id
    val cl = TrainingData.dedupClusters(spark, corpusDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cl.nonEmpty)
    got.foreach { case (cid, n, keeper) =>
      val members = cl.filter(_._2 == cid).keys.toSet
      assert(members.size == n.toInt && members.contains(keeper))
    }
    val c46 = cl.get(4L)
    if (c46.isDefined && cl.get(6L) == c46) // 4 and 6 clustered together
      assert(got.exists { case (cid, _, k) => cid == c46.get && k == 6L })
  }

  test("minhash_query equals brute-force exact Jaccard on the sf0.001 corpus") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = TrainingData.minhashQuery(spark, dir, 100L, 8000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: distinct 3-gram shingle sets per doc, exact Jaccard
    // of every query doc (id < 100) against every other doc
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> toks.indices.dropRight(2)
          .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
      }.toMap
    val expect = (for {
      (q, qs) <- sh.iterator if q < 100 && qs.nonEmpty
      (d, ds) <- sh.iterator if d != q && ds.nonEmpty
      inter = (qs & ds).size
      jq = math.round(inter * 10000.0 / (qs.size + ds.size - inter))
      if jq >= 8000
    } yield (q, d, jq)).toSet
    assert(expect.nonEmpty && got == expect)
  }
}
