package graft.perfbench

import graft.analyze.Analyzer
import graft.corpus.{Corpus, CorpusRow}

/** Seeded inputs of the facade benchmark: the corpus, the query log and the
  * write stream all derive from the workload seed, and the engine sees only
  * what these functions generate. Every draw goes through `Corpus.splitmix64`,
  * so a seed gives bit-identical inputs in any JVM.
  */
object Inputs {

  val nRepos = 16
  val lang = "en"
  val limit = 20

  /** Zipf-rank bands of the generator's `tok<rank>` vocabulary */
  val headBand: Range = 0 until 10
  val midBand: Range = 30 until 300
  val thirdBand: Range = 10 until 1000

  /** Query kinds by log position, repeated every 20 queries: 3 repeats
    * (15%), 1 absent-term query (5%) and 16 fresh conjunctions, 4 of them
    * with a third term (25%). The `site` slot is a site-scoped conjunction
    * in a scoped log and a plain one otherwise. A repeat replays the fresh
    * query `back` positions earlier. Fixed positions give every run's prefix
    * the same mix, and every repeat the same distance; the seed draws the
    * terms. */
  val kindPattern: Vector[String] = Vector(
    "conj", "conj3", "conj", "repeat", "conj", "conj", "missing", "conj3", "conj", "repeat",
    "conj", "conj3", "conj", "site", "repeat", "conj", "conj3", "conj", "conj", "conj")
  val repeatBack: Map[Int, Int] = Map(3 -> 3, 9 -> 4, 14 -> 2)

  /** independent draw streams of one seed */
  val CorpusStream = 0x0C0L
  val WarmCorpusStream = 0x0C1L
  val QueryStream = 0x0A1L
  val WarmQueryStream = 0x0A2L
  val WriteStream = 0x0B1L
  val WarmWriteStream = 0x0B2L

  final case class Query(terms: Seq[String], site: Option[String], kind: String) {
    def text: String = terms.mkString(" ")
  }

  final case class Write(docId: Long, repo: String, path: String, commit: String,
                         lang: String, content: String, insert: Boolean) {
    /** head token + rarest token of the new content: the doc is in this
      * conjunction, and few other docs are */
    def visibilityQuery: Query = {
      val ts = vocabTerms(lang, content)
      val head = ts.minBy(rank)
      val rare = ts.filter(_ != head).maxByOption(rank).getOrElse(head)
      Query(Seq(head, rare).distinct, None, "visibility")
    }
  }

  sealed trait Op
  final case class SearchOp(q: Query) extends Op
  final case class WriteOp(w: Write) extends Op

  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = { s = Corpus.splitmix64(s); s }
    def u(): Double = Corpus.u01(next())
    def below(n: Int): Int = math.min(n - 1, (u() * n).toInt)
    def pick[A](xs: IndexedSeq[A]): A = xs(below(xs.size))
  }

  def streamSeed(seed: Long, stream: Long): Long =
    Corpus.splitmix64(Corpus.splitmix64(seed) ^ (stream * 0x9E3779B97F4A7C15L))

  /** the seed `Corpus.generateDistributed` receives for this workload seed */
  def corpusSeed(seed: Long, stream: Long = CorpusStream): Long = streamSeed(seed, stream)

  def corpusRows(nDocs: Int, cseed: Long): IndexedSeq[CorpusRow] =
    (0 until nDocs).map(i => Corpus.generateRow(i.toLong, nRepos, cseed))

  def rank(term: String): Int = term.stripPrefix("tok").toInt

  def vocabTerms(lang: String, content: String): IndexedSeq[String] =
    Analyzer.analyze(lang, content).filter(_.startsWith("tok")).distinct.sorted.toIndexedSeq

  /** 2–3 terms all present in `content`: head + mid (+ third) */
  private def conjunctionOf(row: CorpusRow, rng: Rng, wantThird: Boolean): Option[Seq[String]] = {
    val ts = vocabTerms(row.lang, row.content)
    val heads = ts.filter(t => headBand.contains(rank(t)))
    val mids = ts.filter(t => midBand.contains(rank(t)))
    if (heads.isEmpty || mids.isEmpty) None
    else {
      val h = rng.pick(heads)
      val m = rng.pick(mids)
      val others = ts.filter(t => thirdBand.contains(rank(t)) && t != h && t != m)
      val third = if (wantThird && others.nonEmpty) Some(rng.pick(others)) else None
      Some(Seq(h, m) ++ third)
    }
  }

  /** `n` queries drawn against the docs `rows` (the corpus the log is
    * designed for), kinds by `kindPattern`: conjunctions built from one doc's
    * own terms (scoped to its repo in a `scoped` log's site slots), queries
    * with an absent term, and verbatim repeats of an earlier fresh query. */
  def queryLog(rows: IndexedSeq[CorpusRow], seed: Long, stream: Long, n: Int,
               scoped: Boolean = false): Vector[Query] = {
    val rng = new Rng(streamSeed(seed, stream))
    val log = scala.collection.mutable.ArrayBuffer.empty[Query]
    for (i <- 0 until n) {
      log += (kindPattern(i % kindPattern.size) match {
        case "repeat" => log(i - repeatBack(i % kindPattern.size)).copy(kind = "repeat")
        case "missing" =>
          Query(Seq(Corpus.vocab(rng.pick(headBand)), s"absent${rng.below(1000000)}"), None, "missing")
        case kind =>
          var terms: Option[Seq[String]] = None
          var row: CorpusRow = null
          while (terms.isEmpty) {
            row = rows(rng.below(rows.size))
            terms = conjunctionOf(row, rng, wantThird = kind == "conj3")
          }
          if (kind == "site" && scoped) Query(terms.get, Some(row.repo), "site")
          else Query(terms.get, None, "conj")
      })
    }
    log.toVector
  }

  /** `n` indexPage payloads, alternating inserts of fresh doc_ids (from
    * `firstNewId` on) and updates of existing doc_ids (same repo/path, new
    * content) */
  def writeStream(nDocs: Int, seed: Long, stream: Long, n: Int, firstNewId: Long): Vector[Write] = {
    val rng = new Rng(streamSeed(seed, stream))
    val contentSeed = streamSeed(seed, stream + 0x100L)
    val cseed = corpusSeed(seed)
    var nextId = firstNewId
    Vector.tabulate(n) { j =>
      val content = Corpus.generateRow(j.toLong, nRepos, contentSeed).content
      if (j % 2 == 0) {
        val id = nextId
        nextId += 1
        val proto = Corpus.generateRow(id, nRepos, cseed)
        Write(id, proto.repo, proto.path.replace("file_", "page_"), proto.commit,
          proto.lang, content, insert = true)
      } else {
        val id = rng.below(nDocs).toLong
        val old = Corpus.generateRow(id, nRepos, cseed)
        Write(id, old.repo, old.path, old.commit, old.lang, content, insert = false)
      }
    }
  }

  /** read-only op log of the WAND workload */
  def wandOps(rows: IndexedSeq[CorpusRow], seed: Long, n: Int): Vector[Op] =
    queryLog(rows, seed, QueryStream, n).map(SearchOp)

  /** op log of the LSM workload: cycles of [write, the write's visibility
    * search, two log searches], so writes are one op in four */
  def lsmOps(rows: IndexedSeq[CorpusRow], seed: Long, cycles: Int): Vector[Op] = {
    val log = queryLog(rows, seed, QueryStream, 2 * cycles, scoped = true).iterator
    writeStream(rows.size, seed, WriteStream, cycles, rows.size.toLong).flatMap { w =>
      Vector(WriteOp(w), SearchOp(w.visibilityQuery), SearchOp(log.next()), SearchOp(log.next()))
    }
  }
}
