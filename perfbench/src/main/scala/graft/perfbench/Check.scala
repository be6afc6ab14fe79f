package graft.perfbench

import graft.query.Oracle

/** Output checks against the scalar oracle (`query/Oracle.scala`), run after
  * the timed phase over the corpus state each op saw. */
object Check {

  /** what the facade answered, reduced to the checked fields */
  final case class Resp(result: Boolean, count: Long, uris: Seq[String], scores: Seq[Double],
                        error: String)

  /** The oracle's answer to `q` over `docs`: (count, ranked (doc_id, bm25)
    * of the first page), or the missing terms when the query short-circuits. */
  final case class Expected(missing: Seq[String], count: Long, top: Seq[(Long, Double)],
                            matches: Set[Long])

  def expected(idx: Oracle.Index, docs: collection.Map[Long, Oracle.Doc],
               q: Inputs.Query): Expected = {
    val p = idx.plan(Inputs.lang, q.text)
    if (p.missing.nonEmpty || p.isEmpty) Expected(p.missing, 0L, Nil, Set.empty)
    else {
      val scored = idx.score(p.terms.map(_.term))
        .filter(s => q.site.forall(_ == docs(s.docId).repo))
      val top = scored.sortBy(s => (-s.bm25, s.docId)).take(Inputs.limit)
      Expected(Nil, scored.size.toLong, top.map(s => (s.docId, s.bm25)), scored.map(_.docId).toSet)
    }
  }

  /** None when the facade's (count, top-k doc_ids, scores to 4 dp) match */
  def search(e: Expected, r: Resp, idOf: String => Option[Long]): Option[String] = {
    if (e.missing.nonEmpty) {
      val named = e.missing.forall(m => Option(r.error).exists(_.contains(m)))
      if (r.result || r.count != 0 || r.uris.nonEmpty || !named)
        Some(s"missing-term reply differs: result=${r.result} count=${r.count} error=${r.error}")
      else None
    } else {
      val ids = r.uris.map(idOf)
      if (!r.result) Some(s"result=false (${r.error})")
      else if (r.count != e.count) Some(s"count ${r.count} != oracle ${e.count}")
      else if (ids != e.top.map(t => Some(t._1)))
        Some(s"top-k doc_ids ${ids.map(_.getOrElse(-1L)).mkString(",")} != oracle ${e.top.map(_._1).mkString(",")}")
      else r.scores.zip(e.top).collectFirst {
        case (a, (id, b)) if math.abs(a - b) >= 1e-4 => f"score of doc $id: $a%.6f != oracle $b%.6f"
      }
    }
  }

  /** a write is visible when the search after it matches the written doc:
    * the doc is on the returned page, or it is among the oracle's matches
    * and the facade's total agrees with the oracle's */
  def visible(w: Inputs.Write, e: Expected, r: Resp): Boolean =
    e.matches.contains(w.docId) &&
      (r.uris.contains(w.path) || (r.count == e.count && !e.top.exists(_._1 == w.docId)))
}
