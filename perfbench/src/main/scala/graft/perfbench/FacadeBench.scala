package graft.perfbench

import graft.api.SearchEngine
import graft.corpus.{Corpus, CorpusRow}
import graft.index.IndexWriter
import graft.io.TableIO
import graft.perfbench.Inputs._
import graft.query.Oracle
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Facade benchmark: one closed-loop client driving `SearchEngine` on
  * `local[<cores>]`, on one of three seeded workloads.
  *
  *   build          repeated `startIndexingPersisted` of one generated corpus
  *   search_wand    read-only query log on the persisted block-max WAND tier
  *   search_lsm_rw  `indexPage` writes interleaved with searches on the LSM tier
  *
  * Usage: FacadeBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <record dir>
  *
  * An untraced run prints the end-to-end metrics; a traced run registers
  * [[OpListener]], replays the ops through the layer functions
  * ([[Replay]]) and prints the per-layer metrics. Every search is checked
  * against the scalar oracle after the timed phase. The last stdout line is
  * the result object; the line before it is the run's full record.
  */
object FacadeBench {

  /** corpus size (docs) per workload; every workload fits in memory */
  val corpusDocs: Map[String, Int] =
    Map("build" -> 5000, "search_wand" -> 3000, "search_lsm_rw" -> 3000)
  /** set-ups per run: setup_s is Spark start plus their median */
  val setups = 2
  /** docs of the disjoint-seed corpus the `build` set-ups index */
  val warmBuildDocs = 1000
  /** ops of a traced run: a fixed prefix of the op log, so listener counts
    * repeat exactly for a seed */
  val tracedOps: Map[String, Int] = Map("build" -> 4, "search_wand" -> 16, "search_lsm_rw" -> 12)
  val logLen = 4000

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String)

  /** one facade call: an op of the timed phase, or a set-up build */
  final class OpRec(val idx: Int, val kind: String, val label: String, val traced: Boolean,
                    val id: String) {
    def this(idx: Int, kind: String, label: String, traced: Boolean) =
      this(idx, kind, label, traced, s"op-$idx")
    var ms = 0.0
    var state = 0
    var query: Option[Query] = None
    var resp: Option[Check.Resp] = None
    var write: Option[Write] = None
    var failure: Option[String] = None
    var counts: Option[OpListener.Counts] = None
    val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  /** corpus states an op can see: the initial docs, then one per write */
  final class States(initial: Map[Long, Oracle.Doc]) {
    val versions: mutable.ArrayBuffer[Map[Long, Oracle.Doc]] = mutable.ArrayBuffer(initial)
    private val oracles = mutable.HashMap.empty[Int, Oracle.Index]
    def current: Int = versions.size - 1
    def apply(w: Write): Unit =
      versions += versions.last.updated(w.docId, Oracle.Doc(w.docId, w.repo, w.lang, w.content))
    def oracle(v: Int): Oracle.Index =
      oracles.getOrElseUpdate(v, new Oracle.Index(versions(v).values.toSeq.sortBy(_.docId)))
  }

  final class Run(val spark: SparkSession, val conf: Conf, val listener: Option[OpListener]) {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
    /** build calls made during set-up (not timed ops) */
    val setupOps: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
    val setupMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    /** latencies of the build calls: timed on `build`, set-up elsewhere
      * (in set-up order, so the last one ran JIT-warm) */
    val buildMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    val idOf: mutable.HashMap[String, Long] = mutable.HashMap.empty
    val notes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
    var corpusDocs = 0
    var indexBytes = 0L
    var contentBytes = 0L
    var timedS = 0.0
    var heapMb = 0.0

    def dir(name: String): String = s"${conf.work}/$name"

    /** runs facade call `f` as op `r`: timed, listener-attributed and
      * wrapped in an `api.<kind>` span when traced; a throw fails the op */
    def call[A](r: OpRec, into: mutable.ArrayBuffer[OpRec] = ops)(f: => A): Option[A] = {
      val traced = r.traced && listener.isDefined
      val t0 = System.nanoTime()
      val out =
        try Some(if (traced) tracer.span(s"api.${r.kind}", r.id)(OpListener.inOp(sc, r.id)(f)) else f)
        catch { case NonFatal(e) => r.failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
      r.ms = (System.nanoTime() - t0) / 1e6
      if (traced) r.counts = Some(listener.get.of(sc, r.id))
      into += r
      out
    }
  }

  // ---- helpers ------------------------------------------------------------

  def dirBytes(d: String): Long = {
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  def deleteRec(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  private def contentBytes(contents: Iterable[String]): Long =
    contents.iterator.map(_.getBytes("UTF-8").length.toLong).sum

  private def docsOf(rows: IndexedSeq[CorpusRow]): Map[Long, Oracle.Doc] =
    rows.indices.map(i => i.toLong -> Oracle.Doc(i.toLong, rows(i).repo, rows(i).lang, rows(i).content)).toMap

  private def toResp(e: SearchEngine)(r: e.SearchResponse): Check.Resp =
    Check.Resp(r.result, r.count, r.data.map(_.uri), r.data.map(_.relevance), r.error)

  private def search(e: SearchEngine, q: Query): Check.Resp =
    toResp(e)(e.search(q.text, q.site, 0, limit, lang))

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** `setups` identical set-ups into fresh directories `setup-<i>`, each
    * after dropping every cached relation; returns the last one's result */
  private def setUp[E](run: Run)(one: Int => E): E = {
    var last: Option[E] = None
    for (i <- 0 until setups) {
      if (i > 0) deleteRec(run.dir(s"setup-${i - 1}"))
      run.spark.catalog.clearCache()
      val t0 = System.nanoTime()
      last = Some(one(i))
      run.setupMs += ms(t0)
    }
    last.get
  }

  /** Runs `ops` in order: until `seconds` have passed (untraced) or for the
    * fixed traced prefix. An op for which `chained` holds is never cut off
    * from the op before it. */
  private def loop[T](run: Run, ops: IndexedSeq[T], chained: T => Boolean)(exec: (T, Int) => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (run.conf.seconds * 1e9).toLong
    val cap = t0 + 120000000000L
    val fixed = tracedOps(run.conf.workload)
    def more(i: Int): Boolean = i < ops.size && (chained(ops(i)) ||
      (if (run.conf.trace) i < fixed && System.nanoTime() < cap else System.nanoTime() < deadline))
    var i = 0
    while (more(i)) { exec(ops(i), i); i += 1 }
    run.timedS = (System.nanoTime() - t0) / 1e9
  }

  // ---- workloads ----------------------------------------------------------

  private def checkBuild(dir: String, nDocs: Long, avgDl: Double): Option[String] =
    (TableIO.readMeta(dir), TableIO.readCurrent(dir)) match {
      case (None, _) => Some("no index meta written")
      case (Some(m), _) if m.nDocs != nDocs => Some(s"meta nDocs ${m.nDocs} != $nDocs")
      case (Some(m), _) if math.abs(m.avgDl - avgDl) > 1e-9 => Some(s"meta avgDl ${m.avgDl} != oracle $avgDl")
      case (_, man) if !man.exists(_.committed.size == IndexWriter.Config().nBuckets) =>
        Some("not every bucket committed")
      case _ => None
    }

  def build(run: Run): Unit = {
    val n = run.corpusDocs
    val cs = corpusSeed(run.conf.seed)
    val rows = corpusRows(n, cs)
    rows.indices.foreach(i => run.idOf(rows(i).path) = i.toLong)
    run.contentBytes = contentBytes(rows.map(_.content))
    setUp(run) { i =>
      val warm = Corpus.generateDistributed(run.spark, warmBuildDocs, nRepos,
        corpusSeed(run.conf.seed, WarmCorpusStream))
      val e = new SearchEngine(run.spark, warm, Some(run.dir(s"setup-$i/state")))
      require(e.startIndexingPersisted(run.dir(s"setup-$i/index")), "set-up build refused")
    }
    deleteRec(run.dir(s"setup-${setups - 1}"))
    val docs = docsOf(rows)
    val oracle = new Oracle.Index(docs.values.toSeq.sortBy(_.docId))
    val bytes = mutable.ArrayBuffer.empty[Double]
    var last: Option[(SearchEngine, OpRec)] = None
    loop(run, 0 until 100000, (_: Int) => false) { (_, i) =>
      if (i > 0) deleteRec(run.dir(s"build-${i - 1}"))
      run.spark.catalog.clearCache()
      val r = new OpRec(i, "build", "build", run.conf.trace && i % 2 == 0)
      val e = new SearchEngine(run.spark, Corpus.generateDistributed(run.spark, n, nRepos, cs),
        Some(run.dir(s"build-$i/state")))
      val idx = run.dir(s"build-$i/index")
      run.call(r)(require(e.startIndexingPersisted(idx), "startIndexingPersisted refused"))
      if (r.failure.isEmpty) {
        run.buildMs += r.ms
        bytes += dirBytes(idx).toDouble
        r.failure = checkBuild(idx, n, oracle.avgDl)
      }
      if (r.traced && r.failure.isEmpty) {
        r.extra("io.write_bytes") = Replay.build(e, run.dir(s"replay-$i"), run.tracer, r.id).toDouble
        deleteRec(run.dir(s"replay-$i"))
      }
      last = Some((e, r))
    }
    run.indexBytes = Dist.median(bytes.toSeq).toLong
    afterTimed(run)
    // the last build's index must answer like the oracle
    for ((e, r) <- last if r.failure.isEmpty) {
      val qs = queryLog(rows, run.conf.seed, QueryStream, 16).filter(_.kind == "conj").take(4)
      r.failure = qs.iterator.flatMap { q =>
        try Check.search(Check.expected(oracle, docs, q), search(e, q), run.idOf.get)
        catch { case NonFatal(x) => Some(s"verification search threw ${x.getMessage}") }
      }.nextOption().map(m => s"built index answers wrongly: $m")
    }
    run.notes("built_docs_per_build") = n
  }

  /** the timed phase of both search workloads */
  private def serve(run: Run, engine: SearchEngine, ops: IndexedSeq[Op], persistedDir: String,
                    st: States, chained: Op => Boolean): Unit = {
    import run.spark.implicits._
    var searches = 0
    loop(run, ops, chained) { (op, i) =>
      op match {
        case SearchOp(q) =>
          val r = new OpRec(i, "search", q.kind, run.conf.trace && searches % 2 == 0)
          searches += 1
          r.state = st.current
          r.query = Some(q)
          r.resp = run.call(r)(search(engine, q))
          val miss = r.counts.exists(_.jobs > 0)
          if (r.traced && r.failure.isEmpty && miss)
            Replay.search(run.spark, engine, q,
              if (engine.servesFromPersisted) Some(persistedDir) else None, run.tracer, r.id)
        case WriteOp(w) =>
          val r = new OpRec(i, "index_page", if (w.insert) "insert" else "update", run.conf.trace)
          r.write = Some(w)
          run.idOf(w.path) = w.docId
          val doc = Seq((w.docId, w.repo, w.path, w.commit, w.lang, w.content))
            .toDF("doc_id", "repo", "path", "commit", "lang", "content")
          val base0 = engine.store.pointer.map(_._2)
          run.call(r)(require(engine.indexPage(doc), "indexPage refused"))
          st(w)
          val ptr = engine.store.pointer
          r.extra("fanin") = ptr.map(p => (p._1 - p._2 + 1).toDouble).getOrElse(0.0)
          r.extra("compacted") = if (ptr.map(_._2) != base0) 1.0 else 0.0
          r.extra("folded") =
            if (engine.corpus.queryExecution.logical.isInstanceOf[LogicalRDD]) 1.0 else 0.0
          if (r.traced) run.tracer.span("api.tables", r.id)(engine.tables)
      }
    }
  }

  /** oracle check of every search, and visibility of every write */
  private def verifySearches(run: Run, st: States): Unit = {
    val byIdx = run.ops.map(r => r.idx -> r).toMap
    for (r <- run.ops if r.kind == "search" && r.failure.isEmpty; resp <- r.resp; q <- r.query) {
      val e = Check.expected(st.oracle(r.state), st.versions(r.state), q)
      r.failure = Check.search(e, resp, run.idOf.get)
      if (q.kind == "visibility")
        for (wr <- byIdx.get(r.idx - 1) if wr.failure.isEmpty; w <- wr.write if !Check.visible(w, e, resp))
          wr.failure = Some(s"write of doc ${w.docId} not visible to the search after it")
    }
    for (r <- run.ops if r.kind == "index_page" && r.failure.isEmpty)
      if (byIdx.get(r.idx + 1).forall(_.resp.isEmpty))
        r.failure = Some("no completed search after the write")
  }

  def searchWand(run: Run): Unit = {
    val n = run.corpusDocs
    val cs = corpusSeed(run.conf.seed)
    val rows = corpusRows(n, cs)
    rows.indices.foreach(i => run.idOf(rows(i).path) = i.toLong)
    run.contentBytes = contentBytes(rows.map(_.content))
    val ops = wandOps(rows, run.conf.seed, logLen)
    val timedTexts = ops.collect { case SearchOp(q) => q.text }.toSet
    val warmQ = queryLog(rows, run.conf.seed, WarmQueryStream, 64)
      .filter(q => q.kind == "conj" && !timedTexts(q.text)).head
    // a traced run attributes the last set-up build to the listener and
    // replays it: this workload's set-up is where the build layers work
    val engine = setUp(run) { i =>
      val e = new SearchEngine(run.spark, Corpus.generateDistributed(run.spark, n, nRepos, cs),
        Some(run.dir(s"setup-$i/state")))
      val b = new OpRec(i, "build", "setup", run.conf.trace && i == setups - 1, s"setup-$i")
      run.call(b, run.setupOps)(require(e.startIndexingPersisted(run.dir(s"setup-$i/index")),
        "set-up build refused"))
      b.failure.foreach(m => throw new IllegalStateException(m))
      run.buildMs += b.ms
      e.tables
      search(e, warmQ)
      e
    }
    for (b <- run.setupOps.lastOption if b.traced) {
      b.extra("io.write_bytes") = Replay.build(engine, run.dir("replay-setup"), run.tracer, b.id).toDouble
      deleteRec(run.dir("replay-setup"))
    }
    val indexDir = run.dir(s"setup-${setups - 1}/index")
    run.indexBytes = dirBytes(indexDir)
    val st = new States(docsOf(rows))
    serve(run, engine, ops, indexDir, st, _ => false)
    run.notes("served_from_persisted_after") = engine.servesFromPersisted
    afterTimed(run)
    verifySearches(run, st)
  }

  def searchLsm(run: Run): Unit = {
    val n = run.corpusDocs
    val cs = corpusSeed(run.conf.seed)
    val rows = corpusRows(n, cs)
    rows.indices.foreach(i => run.idOf(rows(i).path) = i.toLong)
    val ops = lsmOps(rows, run.conf.seed, logLen / 4)
    val timedTexts = ops.collect { case SearchOp(q) => q.text }.toSet
    val warmQ = queryLog(rows, run.conf.seed, WarmQueryStream, 64)
      .filter(q => q.kind == "conj" && !timedTexts(q.text)).head
    val warmWrite = writeStream(n, run.conf.seed, WarmWriteStream, 1, n + 1000000L).head
    run.idOf(warmWrite.path) = warmWrite.docId
    val engine = setUp(run) { i =>
      import run.spark.implicits._
      val e = new SearchEngine(run.spark, Corpus.generateDistributed(run.spark, n, nRepos, cs),
        Some(run.dir(s"setup-$i/state")))
      val t0 = System.nanoTime()
      require(e.startIndexing(), "set-up build refused")
      run.buildMs += ms(t0)
      e.tables
      search(e, warmQ)
      val w = warmWrite
      require(e.indexPage(Seq((w.docId, w.repo, w.path, w.commit, w.lang, w.content))
        .toDF("doc_id", "repo", "path", "commit", "lang", "content")))
      e
    }
    val st = new States(docsOf(rows))
    st(warmWrite)
    // a write cycle runs whole: only a write may start after the deadline
    serve(run, engine, ops, "", st, !_.isInstanceOf[WriteOp])
    val writes = run.ops.filter(_.kind == "index_page")
    run.notes("writes") = writes.size
    run.notes("write_share") = writes.size.toDouble / math.max(1, run.ops.size)
    run.notes("inserts") = writes.count(_.label == "insert")
    run.notes("corpus_folds") = writes.map(_.extra.getOrElse("folded", 0.0)).sum
    run.notes("log_compactions") = writes.map(_.extra.getOrElse("compacted", 0.0)).sum
    run.notes("batch_fanin_max") = (0.0 +: writes.map(_.extra.getOrElse("fanin", 0.0)).toSeq).max
    run.notes("checkpoint_every") = 32 // the facade's default, which the set-up keeps
    run.notes("compact_every") = engine.compactEvery
    run.indexBytes = dirBytes(run.dir(s"setup-${setups - 1}/state"))
    run.contentBytes = contentBytes(st.versions.last.values.map(_.content))
    afterTimed(run)
    verifySearches(run, st)
  }

  // ---- metrics ------------------------------------------------------------

  /** driver heap retained after the timed phase, measured after a full GC */
  private def afterTimed(run: Run): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(100) }
    run.heapMb = mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** the op `trace.overhead` compares: build calls on `build`, searches
    * on the search workloads */
  private def primaryKind(w: String) = if (w == "build") "build" else "search"

  def endToEnd(run: Run, sparkStartS: Double): Seq[(String, Double, String)] = {
    // `build` runs no timed searches: its search figures read 0
    val searchMs = run.ops.filter(_.kind == "search").map(_.ms).toSeq
    // timed builds on `build`; elsewhere the last, JIT-warm set-up build
    val buildMs =
      if (run.conf.workload == "build") Dist.median(run.buildMs.toSeq) else run.buildMs.last
    Seq(
      ("setup_s", sparkStartS + Dist.median(run.setupMs.toSeq) / 1000, "s"),
      ("ops_per_s", run.ops.size / run.timedS, "1/s"),
      ("search_p50_ms", Dist.median(searchMs), "ms"),
      ("search_tail_ms", Dist.tail(searchMs)._1, "ms"),
      ("build_files_per_s", run.corpusDocs / (buildMs / 1000), "1/s"),
      ("index_bytes_per_doc_byte", run.indexBytes.toDouble / run.contentBytes, "ratio"),
      ("heap_after_gc_mb", run.heapMb, "MB"))
  }

  /** the workload-specific figures the record names beside the metrics */
  def opFigures(run: Run): Map[String, Any] = {
    def lat(rs: Iterable[OpRec]) = {
      val xs = rs.map(_.ms).toSeq
      val (t, pct, k) = Dist.tail(xs)
      Map("p50_ms" -> Dist.median(xs), "tail_ms" -> t, "tail_percentile" -> pct, "samples" -> k)
    }
    val searches = run.ops.filter(_.kind == "search")
    Map(
      "search" -> lat(searches),
      "index_page" -> lat(run.ops.filter(_.kind == "index_page")),
      "build" -> lat(run.ops.filter(_.kind == "build")),
      "read_after_write_ms" -> Dist.median(searches.filter(_.label == "visibility").map(_.ms).toSeq),
      "by_label" -> run.ops.groupBy(_.label).map { case (k, v) => k -> v.size })
  }

  def perLayer(run: Run): Seq[(String, Double, String)] = {
    def med(xs: Iterable[Double]) = Dist.median(xs.toSeq)
    def spans(name: String) = run.tracer.spans.filter(_.name == name).map(_.ms)
    def traced(kind: String) = run.ops.filter(r => r.kind == kind && r.counts.isDefined)
    val s = traced("search")
    val w = traced("index_page")
    val b = (run.ops ++ run.setupOps).filter(r => r.kind == "build" && r.counts.isDefined)
    val sc = s.map(_.counts.get)
    val answered = s.flatMap(_.resp).filter(_.uris.nonEmpty)
    val replayed = (run.ops ++ run.setupOps)
      .filter(r => run.tracer.spans.exists(x => x.op == r.id && x.parent.startsWith("replay")))
    val comparable = (r: OpRec) =>
      r.kind == primaryKind(run.conf.workload) && r.failure.isEmpty && (r.kind == "build" || Set("conj", "site")(r.label))
    val tracedMs = run.ops.filter(r => r.traced && comparable(r)).map(_.ms)
    val untracedMs = run.ops.filter(r => !r.traced && comparable(r)).map(_.ms)
    Seq(
      ("api.search.jobs", med(sc.map(_.jobs.toDouble)), "count"),
      ("api.search.stages", med(sc.map(_.stages.toDouble)), "count"),
      ("api.search.tasks", med(sc.map(_.tasks.toDouble)), "count"),
      ("api.search.job_ms", med(sc.map(_.jobMs)), "ms"),
      ("api.search.driver_ms", med(s.map(r => r.ms - r.counts.get.jobMs)), "ms"),
      ("api.search.task_cpu_ms", med(sc.map(_.cpuNs / 1e6)), "ms"),
      ("api.search.shuffle_bytes", med(sc.map(_.shuffleBytes.toDouble)), "bytes"),
      ("api.search.input_bytes", med(sc.map(_.inputBytes.toDouble)), "bytes"),
      ("api.cache_hit_ratio", if (sc.isEmpty) 0.0 else sc.count(_.jobs == 0).toDouble / sc.size, "ratio"),
      ("api.index_page.jobs", med(w.map(_.counts.get.jobs.toDouble)), "count"),
      ("api.index_page.shuffle_bytes", med(w.map(_.counts.get.shuffleBytes.toDouble)), "bytes"),
      ("api.tables_ms", med(spans("api.tables")), "ms"),
      ("streaming.batch_fanin", med(w.map(_.extra.getOrElse("fanin", 0.0))), "count"),
      ("query.frontend_ms", med(spans("query.frontend")), "ms"),
      ("query.count_ms", med(spans("query.count")), "ms"),
      ("query.topk_ms", med(spans("query.topk")), "ms"),
      ("io.read_terms_ms", med(spans("io.read_terms")), "ms"),
      ("query.decorate_ms", med(spans("query.decorate")), "ms"),
      ("query.matches_per_result",
        if (answered.isEmpty) 0.0 else answered.map(_.count).sum.toDouble / answered.map(_.uris.size).sum, "ratio"),
      ("analyze.tokenize_ms", med(spans("analyze.tokenize")), "ms"),
      ("index.aggregate_ms", med(spans("index.aggregate")), "ms"),
      ("index.encode_ms", med(spans("index.encode")), "ms"),
      ("io.write_ms", med(spans("io.write")), "ms"),
      ("io.write_bytes", med(b.flatMap(_.extra.get("io.write_bytes"))), "bytes"),
      ("streaming.seed_ms", med(spans("streaming.seed")), "ms"),
      ("api.build.jobs", med(b.map(_.counts.get.jobs.toDouble)), "count"),
      ("api.build.shuffle_bytes", med(b.map(_.counts.get.shuffleBytes.toDouble)), "bytes"),
      ("api.build.task_cpu_ms", med(b.map(_.counts.get.cpuNs / 1e6)), "ms"),
      ("trace.coverage", med(replayed.map(r => Replay.coveredMs(run.tracer, r.id) / r.ms)), "ratio"),
      ("trace.overhead",
        if (tracedMs.isEmpty || untracedMs.isEmpty) 0.0 else med(tracedMs) / med(untracedMs), "ratio"))
  }

  // ---- entry --------------------------------------------------------------

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(corpusDocs.contains(w), s"unknown workload $w (known: ${corpusDocs.keys.toSeq.sorted.mkString(", ")})")
    Conf(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"), need("out"))
  }

  def startSpark(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    Files.createDirectories(Paths.get(conf.out))
    val probeBefore = HostProbe.run()
    val t0 = System.nanoTime()
    val spark = startSpark(conf.work)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val listener = if (conf.trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, conf, listener)
    run.corpusDocs = corpusDocs(conf.workload)
    val outcome =
      try {
        conf.workload match {
          case "build" => build(run)
          case "search_wand" => searchWand(run)
          case "search_lsm_rw" => searchLsm(run)
        }
        val metrics = if (conf.trace) perLayer(run) else endToEnd(run, sparkStartS)
        Right(metrics)
      } catch { case NonFatal(e) => e.printStackTrace(); Left(e) }
    spark.stop()
    outcome match {
      case Left(_) => sys.exit(1)
      case Right(metrics) =>
        val failures = run.ops.filter(_.failure.isDefined)
        val stamp = s"${conf.workload}-seed${conf.seed}-trace${if (conf.trace) 1 else 0}-${System.currentTimeMillis()}"
        val record = mutable.LinkedHashMap[String, Any](
          "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
          "traced" -> conf.trace, "client" -> "closed loop, 1 client",
          "cores" -> Runtime.getRuntime.availableProcessors,
          "corpus_docs" -> run.corpusDocs, "corpus_content_bytes" -> run.contentBytes,
          "corpus_seed" -> corpusSeed(conf.seed),
          "host_probe_before" -> probeBefore, "host_probe_after" -> HostProbe.run(),
          "spark_start_s" -> sparkStartS, "setup_ms" -> run.setupMs, "build_ms" -> run.buildMs,
          "timed_s" -> run.timedS, "ops" -> run.ops.size,
          "op_ms" -> run.ops.map(r => Seq(r.label, r.ms)),
          "ops_figures" -> opFigures(run),
          "failed_ops_ratio" -> failures.size.toDouble / math.max(1, run.ops.size),
          "failures" -> failures.take(20).map(r => s"${r.id} ${r.kind}/${r.label}: ${r.failure.get}"),
          "notes" -> run.notes,
          "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
        if (conf.trace) run.tracer.write(Paths.get(conf.out, s"spans-$stamp.jsonl"))
        val recordJson = Json.render(record)
        Files.writeString(Paths.get(conf.out, s"record-$stamp.json"), recordJson + "\n")
        println("record " + recordJson)
        println(Json.render(mutable.LinkedHashMap[String, Any](
          "correct" -> failures.isEmpty, "attempted" -> run.ops.size, "failed" -> failures.size,
          "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
            k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*))))
    }
  }
}
