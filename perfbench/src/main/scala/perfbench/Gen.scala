package perfbench

import graft.analysis.Analyzer
import graft.index.DocInput
import graft.synth.CorpusSynth

/** Seeded input generator: every corpus, query and NRT batch the
  * benchmark feeds the engine is a pure function of the `--seed`
  * argument, so two runs with one seed get byte-identical inputs (the
  * printed input hash proves it).
  */
final class Rng(seed: Long) {
  private var s = seed
  /** splitmix64 step. */
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

/** One query of the log.
  *  - `or` / `and`: a term bag through `QueryCompiler.topK` (routes to
  *    BMW / block-max AND);
  *  - `exact`: the same bag through `ExactSearch.topK`, the oracle path;
  *    `checks` is the index of the routed op it must agree with;
  *  - `parsed`: a classic query string through `QueryParser.parse` and
  *    `QueryCompiler.search`, with an optional `fq` string; `nonEmpty`
  *    marks strings drawn from a generated doc, which must match;
  *    `shape` names the string's form (see [[Gen.ParsedShapes]]).
  */
final case class Op(cls: String, terms: Seq[String] = Nil, q: String = "",
                    fq: String = "", and: Boolean = false, checks: Int = -1,
                    nonEmpty: Boolean = false, shape: String = "")

object Gen {
  /** Strata of the CorpusSynth vocabulary by document frequency. */
  val Common: (Int, Int) = (0, 20)
  val Mid: (Int, Int) = (100, 500)
  val Rare: (Int, Int) = (1500, 2000)

  def derive(seed: Long, salt: Long): Long = new Rng(seed ^ (salt * 0x632be59bd9b4e019L)).nextLong()

  def corpusSeed(seed: Long): Long = derive(seed, 1)

  private def word(k: Int): String = f"w$k%04d"

  /** Zipf draw (p(r) ∝ 1/(r+1)) inside a stratum. */
  private def zipfIn(rng: Rng, stratum: (Int, Int)): String = {
    val n = stratum._2 - stratum._1
    val r = (math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1).toInt
    word(stratum._1 + math.min(math.max(r, 0), n - 1))
  }

  /** Strata of the successive bag terms of a log, repeated: 30% common,
    * 40% mid and 30% rare, in a fixed order, so every seed issues the
    * same strata at the same positions and only the words differ.
    */
  private val StrataOrder: IndexedSeq[(Int, Int)] =
    IndexedSeq(Mid, Common, Rare, Mid, Common, Rare, Mid, Rare, Common, Mid)

  /** `n` distinct words; word `j` is drawn from stratum `strata(j)`. */
  private def bag(rng: Rng, n: Int, strata: Int => (Int, Int)): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += zipfIn(rng, strata(out.size))
    out.toSeq
  }

  private val stops = Analyzer.EnglishStopWords

  /** A phrase taken from generated doc `id`: two non-stopword tokens at
    * distance `gap` with only non-stopwords between them (a stopword
    * leaves a position gap, which would break the phrase).
    */
  private def phraseFromDoc(cSeed: Long, id: Long, gap: Int): Option[(String, String)] = {
    val ws = CorpusSynth.textFor(cSeed, id).split(' ')
    (0 until ws.length - gap).find(i => (i to i + gap).forall(j => !stops.contains(ws(j))))
      .map(i => (ws(i), ws(i + gap)))
  }

  /** Class pattern of the query log, repeated: 8 term-bag ops (OR, AND,
    * and the exact oracle re-issuing the bag just before it) and 2 parsed
    * strings per 10.
    */
  val Pattern: IndexedSeq[String] =
    IndexedSeq("or", "and", "exact", "or", "parsed", "and", "or", "exact", "and", "parsed")

  /** Shapes of the parsed strings, issued in this order, repeated. */
  val ParsedShapes: IndexedSeq[String] =
    IndexedSeq("phrase", "bool", "prefix", "sloppy_phrase", "filtered", "fuzzy")

  /** The query log: ~80% term bags and ~20% classic-parser strings.
    *
    * Everything that sets an op's cost is fixed by its position in the
    * log: the class, the bag size (the k-th OR bag has 1 + k % 5 terms,
    * the k-th AND bag 2 + k % 4), the stratum of each bag term and the
    * parsed shape. The seed draws only the words and the source docs of
    * the phrases, so runs on different seeds do the same mix of work.
    */
  def queryLog(seed: Long, nDocs: Long, size: Int, salt: Long): IndexedSeq[Op] = {
    val rng = new Rng(derive(seed, salt))
    val cSeed = corpusSeed(seed)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val seen = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var bagTerms = 0
    while (ops.size < size) {
      val cls = Pattern(ops.size % Pattern.size)
      val k = seen(cls)
      seen(cls) = k + 1
      cls match {
        case "parsed" => ops += parsed(rng, cSeed, nDocs, ParsedShapes(k % ParsedShapes.size))
        case "exact" =>
          ops += ops.last.copy(cls = "exact", checks = ops.size - 1)
        case _ =>
          val and = cls == "and"
          val first = bagTerms
          val terms = bag(rng, if (and) 2 + k % 4 else 1 + k % 5,
            j => StrataOrder((first + j) % StrataOrder.size))
          bagTerms += terms.size
          ops += Op(cls, terms = terms, and = and)
      }
    }
    ops.toIndexedSeq
  }

  private def parsed(rng: Rng, cSeed: Long, nDocs: Long, shape: String): Op = {
    def doc(): Long = java.lang.Long.remainderUnsigned(rng.nextLong(), nDocs)
    val q = shape match {
      case "phrase" =>
        val (a, b) = Iterator.continually(phraseFromDoc(cSeed, doc(), 1)).flatten.next()
        Op("parsed", q = s"\"$a $b\"", nonEmpty = true)
      case "sloppy_phrase" =>
        val (a, c) = Iterator.continually(phraseFromDoc(cSeed, doc(), 2)).flatten.next()
        Op("parsed", q = s"\"$a $c\"~2", nonEmpty = true)
      case "bool" =>
        Op("parsed", q = s"+${zipfIn(rng, Common)} ${zipfIn(rng, Mid)} -${zipfIn(rng, Rare)}")
      case "filtered" =>
        Op("parsed", q = s"${zipfIn(rng, Mid)} ${zipfIn(rng, Rare)}", fq = zipfIn(rng, Common))
      case "prefix" =>
        Op("parsed", q = s"w01${rng.nextInt(10)}* ${zipfIn(rng, Mid)}")
      case "fuzzy" =>
        Op("parsed", q = s"${zipfIn(rng, Mid)}~1 ${zipfIn(rng, Common)}")
    }
    q.copy(shape = shape)
  }

  /** Marker token of NRT batch `c`: letters and digits only (survives
    * the analyzer), never a vocabulary word or a stopword.
    */
  def marker(c: Int): String = f"mk$c%05d"

  /** NRT micro-batch `c`: `size` docs with ids after the base corpus,
    * each carrying the batch's marker token at a seeded position.
    */
  def nrtBatch(seed: Long, base: Long, size: Int, c: Int): Seq[DocInput] = {
    val tSeed = derive(seed, 3)
    val rng = new Rng(derive(seed, 100 + c))
    (0 until size).map { i =>
      val id = base + c.toLong * size + i
      val ws = CorpusSynth.textFor(tSeed, id).split(' ').toBuffer
      ws.insert(rng.nextInt(ws.size + 1), marker(c))
      DocInput(id, s"https://nrt/$id", ws.mkString(" "))
    }
  }

  /** Term bags issued against each fresh NRT snapshot. */
  def nrtBags(seed: Long, c: Int, n: Int): Seq[Op] = {
    val rng = new Rng(derive(seed, 10000 + c))
    (0 until n).map { i =>
      val ts = bag(rng, 2 + rng.nextInt(3), j => StrataOrder((i * 5 + j) % StrataOrder.size))
      if (i % 2 == 1) Op("and", terms = ts, and = true) else Op("or", terms = ts)
    }
  }

  /** Seeded doc sample for the analyzer micro-measure. */
  def analyzeSample(seed: Long, n: Int): Array[String] = {
    val s = derive(seed, 4)
    Array.tabulate(n)(i => CorpusSynth.textFor(s, i.toLong))
  }

  /** SHA-256 of everything the engine will be fed. */
  final class Hasher {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Hasher = { md.update(s.getBytes("UTF-8")); md.update(0.toByte); this }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  def corpusHash(h: Hasher, seed: Long, nDocs: Long): Hasher = {
    val s = corpusSeed(seed)
    var id = 0L
    while (id < nDocs) { h.add(CorpusSynth.textFor(s, id)); id += 1 }
    h
  }
}
