package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Impact-ordered index with quantized scores (Anh & Moffat, SIGIR 2006
  * "Pruned query evaluation using pre-computed impacts"; Anh, de Kretser &
  * Moffat, SIGIR 2001 — public literature): pre-compute each posting's
  * BM25 contribution, quantize it into a small integer ("impact"), and
  * serve queries by summing INTEGERS instead of recomputing floats.
  *
  * Why a 100 TB engine wants this:
  *  - the serve path touches no docStats/termStats joins at all — the
  *    impact IS the posting payload, so query cost is one IN-filtered scan
  *    plus one integer aggregate;
  *  - integer impacts of b bits compress far better than doubles (they
  *    ride the same varint/Rice stream as the gaps — see
  *    [[graft.index.PostingCodec]]), and equal-impact runs enable
  *    score-at-a-time early termination;
  *  - ranking becomes ORDER BY a BIGINT — deterministic across engines by
  *    construction, no float-tie hazard.
  *
  * Quantization (left-geometric ε is a refinement; this is the standard
  * uniform scheme): with L = 2^b − 1 levels and global bounds
  * [wmin, wmax] over all postings,
  *
  *   impact(w) = 1 + floor((w − wmin) / (wmax − wmin) · L)   ∈ [1, L+1]
  *
  * Storage convention: the range is [1, 2^b] (L+1 = 2^b values), so a
  * b-bit stream stores impact − 1 ∈ [0, 2^b − 1]; the +1 keeps impacts
  * strictly positive so they ride the same positive-integer varint/Rice
  * stream as the gaps without a zero special case.
  *
  * Both engines evaluate the identical IEEE expression (same BM25
  * decomposition, same division/multiplication order), so the floor —
  * the only discretization point — lands on the same integer.
  *
  * Scale shape: the build is one postings pass joined to the (vocabulary-
  * sized) term stats and docStats, with the global bounds as a broadcast
  * 1-row aggregate; the serve is the BM25 plan minus both stats joins. */
object Impact {

  /** Quantize every posting's BM25 weight into 2^bits − 1 + 1 integer
    * levels: (term, doc_id, impact). A degenerate index where every
    * posting carries the same weight quantizes to impact 1. */
  def quantize(postings: DataFrame, docStats: DataFrame, termStats: DataFrame,
               nDocs: Long, avgDl: Double, bits: Int = 8): DataFrame = {
    val levels = (1 << bits) - 1
    val w = postings
      .join(termStats.select("term", "df"), "term")
      .join(docStats, "doc_id")
      .withColumn("w", Bm25.score(col("tf"), col("df"), col("dl"), nDocs, avgDl))
    val bounds = w.agg(min("w").as("wmin"), max("w").as("wmax"))
    w.crossJoin(broadcast(bounds))
      .select(col("term"), col("doc_id"),
        when(col("wmax") === col("wmin"), lit(1L))
          .otherwise((floor((col("w") - col("wmin")) / (col("wmax") - col("wmin"))
            * lit(levels.toDouble)) + lit(1L)).cast("long")).as("impact"))
  }

  /** Conjunctive top-k over the quantized index: Σ impact per doc, ALL
    * query terms required, ties doc_id asc. The whole serve path is one
    * IN-filtered scan + one integer hash aggregate + a k-row heap
    * (WindowGroupLimit) — no stats joins, no floats. */
  def impactTopK(quantized: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // duplicate query terms would make n_terms === terms.size unsatisfiable
    // (postings are unique per (term, doc)); dedupe like bm25TopKBatch does
    val uniq = terms.distinct
    val cand = quantized
      .filter(col("term").isin(uniq.map(x => x: Any): _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("impact").as("impact"))
      .filter(col("n_terms") === uniq.size)
      .select(col("doc_id"), col("impact"))
    Search.ranked(cand, k, score = "impact")
  }
}
