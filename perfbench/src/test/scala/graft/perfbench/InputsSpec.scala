package graft.perfbench

import graft.corpus.Corpus
import graft.perfbench.Inputs._
import graft.query.Oracle
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val nDocs = 2000
  private def rows(seed: Long) = corpusRows(nDocs, corpusSeed(seed))
  private def inputs(seed: Long) = {
    val r = rows(seed)
    (r, wandOps(r, seed, 400), lsmOps(r, seed, 100),
      writeStream(nDocs, seed, WriteStream, 50, nDocs.toLong))
  }

  test("the same seed yields an identical corpus, query log and write stream") {
    assert(inputs(7L) == inputs(7L))
  }

  test("a different seed yields a different corpus, query log and write stream") {
    val (c1, q1, l1, w1) = inputs(7L)
    val (c2, q2, l2, w2) = inputs(8L)
    assert(c1.map(_.content) != c2.map(_.content))
    assert(q1 != q2)
    assert(l1 != l2)
    assert(w1.map(_.content) != w2.map(_.content))
  }

  test("the engine's distributed generator produces the corpus the oracle checks against") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val cs = corpusSeed(7L)
      val got = Corpus.generateDistributed(spark, 300, nRepos, cs).orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("repo"), r.getAs[String]("path"),
          r.getAs[String]("lang"), r.getAs[String]("content"))).toSeq
      val want = corpusRows(300, cs).zipWithIndex.map { case (r, i) =>
        (i.toLong, r.repo, r.path, r.lang, r.content) }
      assert(got == want)
    } finally spark.stop()
  }

  test("the query log has the designed shares of conjunctions, absent terms and repeats") {
    val r = rows(11L)
    val log = queryLog(r, 11L, QueryStream, 2000)
    def share(k: String) = log.count(_.kind == k).toDouble / log.size
    assert(share("missing") == 0.05)
    assert(share("repeat") == 0.15)
    assert(log.forall(q => q.terms.size == 2 || q.terms.size == 3))
    val fresh = log.filter(_.kind == "conj")
    val third = fresh.count(_.terms.size == 3).toDouble / fresh.size
    assert(math.abs(third - 0.25) < 0.01)
    // every fresh conjunction matches at least one doc under the engine's
    // own plan semantics (common-term pruning included)
    val idx = new Oracle.Index(r.indices.map(i => Oracle.Doc(i.toLong, r(i).repo, r(i).lang, r(i).content)))
    assert(fresh.take(300).forall(q => idx.topK(lang, q.text, 1).nonEmpty))
    // absent terms are really absent: the plan short-circuits on them
    assert(log.filter(_.kind == "missing").take(30).forall(q => idx.plan(lang, q.text).missing.nonEmpty))
    // repeats replay an earlier query verbatim, so the result cache can hit
    assert(log.zipWithIndex.filter(_._1.kind == "repeat").forall { case (q, i) =>
      log.take(i).exists(p => p.kind != "repeat" && p.terms == q.terms && p.site == q.site) })
  }

  test("the LSM op log writes one op in four, mixes inserts with updates, and scopes a few reads") {
    val r = rows(11L)
    val ops = lsmOps(r, 11L, 400)
    val writes = ops.collect { case WriteOp(w) => w }
    assert(writes.size * 4 == ops.size)
    assert(writes.count(_.insert) * 2 == writes.size)
    assert(writes.filter(_.insert).forall(_.docId >= nDocs))
    assert(writes.filterNot(_.insert).forall(w => w.docId < nDocs && w.path == r(w.docId.toInt).path))
    // each write is followed by a search for terms of the written doc
    ops.sliding(2).foreach {
      case Seq(WriteOp(w), next) =>
        assert(next == SearchOp(w.visibilityQuery))
        assert(w.visibilityQuery.terms.forall(vocabTerms(w.lang, w.content).contains))
      case _ => ()
    }
    val reads = ops.collect { case SearchOp(q) if q.kind != "visibility" => q }
    assert(reads.count(_.kind == "site") * 20 == reads.size)
    assert(reads.filter(_.kind == "site").forall(_.site.isDefined))
  }
}
