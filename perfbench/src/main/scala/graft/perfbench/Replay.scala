package graft.perfbench

import graft.analyze.Html
import graft.api.SearchEngine
import graft.index.{IndexWriter, InvertedIndex}
import graft.io.TableIO
import graft.query.{Bm25, QueryFrontend, Search, Wand}
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Replays of one facade op through the public layer functions the facade
  * calls, in the facade's order, each step inside a span. Spans named in
  * `covered` are the steps the facade itself performs; the others are
  * standalone forced passes (their work also sits inside a covered step)
  * and are left out of `trace.coverage`. */
object Replay {

  val covered: Set[String] = Set("query.frontend", "query.count", "query.topk", "query.decorate",
    "index.aggregate", "index.encode", "io.write", "streaming.seed")

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `SearchEngine.search` on a cache miss: plan → count → top-k → decorate */
  def search(spark: SparkSession, engine: SearchEngine, q: Inputs.Query,
             persistedDir: Option[String], tr: Tracer, op: String): Unit = {
    val parent = "replay.search"
    val t = engine.tables
    val corpus = engine.corpus
    val plan = tr.span("query.frontend", op, parent) {
      QueryFrontend.plan(t.termStats, Inputs.lang, q.text)
    }
    if (plan.missing.nonEmpty || plan.isEmpty) return
    val kept = plan.terms.map(_.term)
    val dfs = plan.terms.map(pt => pt.term -> pt.df).toMap
    val scoped = q.site match {
      case Some(r) => t.postings.join(
        corpus.filter(col("repo") === r).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => t.postings
    }
    val total = tr.span("query.count", op, parent)(Search.conjunctive(scoped, kept).count())
    if (total == 0) return
    val top: DataFrame = persistedDir match {
      case Some(dir) if q.site.isEmpty =>
        val meta = TableIO.readMeta(dir).get
        val idfs = dfs.map { case (tm, d) => tm -> Bm25.idfS(d, meta.nDocs) }
        tr.span("io.read_terms", op, parent)(force(IndexWriter.readForTerms(spark, dir, kept).toDF()))
        Wand.topK(IndexWriter.readForTerms(spark, dir, kept), idfs, meta.avgDl, Inputs.limit)
          .filter(col("rank") > 0)
      case _ =>
        Search.bm25TopK(scoped, t.docStats, dfs, t.nDocs, t.avgDl, Inputs.limit, 0)
    }
    val rows = tr.span("query.topk", op, parent)(top.collect())
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
    tr.span("query.decorate", op, parent)(Search.decorate(corpus, local, dfs.keySet).collect())
    ()
  }

  /** `SearchEngine.startIndexingPersisted`: tokenize (standalone pass) →
    * aggregate → encode → write bucket groups + meta → seed the LSM base.
    * Returns the bytes the replayed write left on disk. */
  def build(engine: SearchEngine, dir: String, tr: Tracer, op: String): Long = {
    val parent = "replay.build"
    val cfg = IndexWriter.Config()
    val corpus = engine.corpus
    val view = corpus.withColumn("content", Html.textOf(col("content")))
    tr.span("analyze.tokenize", op, parent)(force(InvertedIndex.tokensByLang(view, Map.empty)))
    val t = tr.span("index.aggregate", op, parent)(InvertedIndex.build(view))
    val shards = tr.span("index.encode", op, parent) {
      val s = IndexWriter.shardPostings(t.postings, t.docStats, t.avgDl, cfg)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      force(s.toDF())
      s
    }
    val tableDir = s"$dir/index"
    tr.span("io.write", op, parent) {
      (0 until cfg.nBuckets).grouped(4).foreach { g =>
        IndexWriter.write(shards.filter(col("bucket").isin(g.map(x => x: Any): _*)),
          tableDir, 1L, cfg)
      }
      TableIO.writeMeta(tableDir, TableIO.IndexMeta(t.nDocs, t.avgDl))
    }
    val bytes = FacadeBench.dirBytes(tableDir)
    tr.span("streaming.seed", op, parent) {
      val tsRepo = t.postings.join(corpus.select("doc_id", "repo"), "doc_id")
        .groupBy("repo", "term").agg(count(lit(1)).as("df"))
      val stateDir = s"$dir/state"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
      IncrementalIndex.seedBase(new IncrementalIndex.ParquetStateStore(stateDir), t,
        rawDocs = Some(corpus), termStatsRepo = Some(tsRepo))
    }
    shards.unpersist()
    t.postings.unpersist()
    bytes
  }

  /** Σ covered replay spans of `op` */
  def coveredMs(tr: Tracer, op: String): Double =
    tr.spans.filter(s => s.op == op && covered.contains(s.name)).map(_.ms).sum
}
