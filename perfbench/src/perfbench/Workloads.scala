package perfbench

import graft.{Hit, IndexBuild, QueryEngine}
import graft.extra.Pages
import graft.streaming.StreamIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sum}

/** The workloads. Each makes its inputs (untimed), sets up (timed as
  * `setup_s`), warms up (untimed), runs its operation back to back for the
  * run's seconds, and checks every answer against the oracle. The gated
  * end-to-end metrics are the same three on every workload:
  *   setup_s, op_p50_ms (median latency of the workload's operation),
  *   live_heap_mb (heap after a full GC at the end of the window, the
  *   index still open).
  * Workload-specific figures are printed as named table rows. */
object Workloads {
  /** Geometry of every index built here: `graft.Bench`'s bucket width,
    * head threshold and head sample, with 16 partitions for corpora this
    * size. */
  val Cfg = IndexBuild.Config(numPartitions = 16, bucketWidth = 4096L, headDf = 1000L,
    headSampleInv = 32)
  val K = 10
  /** The corpus is the same for every run seed, so it and the oracle
    * answers for the query pools are computed once per build; the run seed
    * draws the queries and the micro-batch split. */
  val CorpusSeed = 1L
  val BatchDocs = 20000
  val InteractiveDocs = 20000
  val BatchQueries = 1000
  /** Warm-up after set-up, untimed: the JIT settles over the first tens
    * of operations (see perfbench/README.md, "Warm-up"). */
  val WarmBatches = 20
  /** query_interactive runs rounds of one request of each kind: the first
    * ends its set-up, `WarmRounds` warm up, and the window cycles through
    * `Rounds` more. */
  val Rounds = 50
  val WarmRounds = 4
  /** The batch workload's corpus arrives as this many page micro-batches. */
  val IngestBatches = 2
  /** Query-kind shares (head, tail, and, oov) of a query_batch batch. An
    * assumption (see perfbench/README.md, "Inputs"): the salted and the
    * unsalted scorer paths get half the scored queries each. */
  val BatchMix = (0.45, 0.45, 0.0, 0.10)
  private val Even = (0.25, 0.25, 0.25, 0.25)

  val Names = Seq("query_batch", "query_interactive")

  def run(name: String, c: Ctx): Unit = {
    val layers = new Layers.Sink
    name match {
      case "query_batch" => queryBatch(c, layers)
      case "query_interactive" => queryInteractive(c, layers)
    }
    if (c.traceMode) layers.flush(c.report)
  }

  /** Makes the workload's corpus and oracle answers, which are cached per
    * build, and nothing else. Run in a JVM of its own before the first
    * measured run, so that every measured run finds them cached and does
    * the same untimed work before its set-up. */
  def prepare(name: String, c: Ctx): Unit = name match {
    case "query_batch" => batchInputs(c)
    case "query_interactive" => interactiveInputs(c)
  }

  private def timed[T](body: => T): (T, Long) = {
    val t = System.nanoTime(); val r = body; (r, System.nanoTime() - t)
  }

  private def writeIndex(c: Ctx, docs: DataFrame, dir: String): IndexBuild.Meta =
    c.tracer.op("IndexBuild.writeIndex", "indexbuild")(IndexBuild.writeIndex(c.spark, docs, dir, Cfg))

  private def open(c: Ctx, dir: String, cache: Boolean): QueryEngine.IndexHandle =
    c.tracer.op("QueryEngine.openIndex", "queryengine")(QueryEngine.openIndex(c.spark, dir, cache))

  private def effort(c: Ctx): Option[QueryEngine.EffortAccs] =
    if (c.tracer.active) Some(new QueryEngine.EffortAccs(c.spark)) else None

  /** Answers `qs` on `h`: OR queries in one call, AND queries in another. */
  private def ask(c: Ctx, h: QueryEngine.IndexHandle, qs: Seq[GenQuery],
                  e: Option[QueryEngine.EffortAccs]): Seq[Hit] =
    c.tracer.op("QueryEngine.runOnHandle", "queryengine") {
      val (and, or) = qs.partition(_.conjunctive)
      def call(g: Seq[GenQuery], conj: Boolean) =
        if (g.isEmpty) Nil
        else Check.collectHits(QueryEngine.runOnHandle(c.spark, h, g.map(_.pair), K, e, conj))
      call(or, false) ++ call(and, true)
    }

  private def check(c: Ctx, what: String, expected: Check.Answers, qs: Seq[GenQuery],
                    got: Seq[Hit]): Unit =
    c.report.checked(what, Check.mismatches(expected, got, qs.map(_.id)))

  /** Codec kernels on a seeded sample of the index's segment rows. */
  private def codecLayer(c: Ctx, s: Layers.Sink, dir: String): Unit = {
    val rows = IndexBuild.readSegments(c.spark, dir).sample(false, 0.1, c.seed).limit(4000).collect().toSeq
    Layers.codec(s, c.tracer, rows, Cfg.blockSize, 0.3)
  }

  private def postingRows(c: Ctx, dir: String): Double =
    c.spark.read.parquet(IndexBuild.manifestDir(dir)).agg(sum("n_lists")).head().getLong(0).toDouble

  // ---------------------------------------------------------- stream ingest
  /** Timings of one stream ingest: per micro-batch (ingestBatch, tierUp)
    * walls, the merges tierUp made, the live units before compaction, and
    * the compaction wall. */
  final case class Ingested(commits: Seq[(Long, Long)], merges: Int, live: Int, compact: Long)

  /** Ingests `batches` (pages tables) into a log under `work` through
    * ingestBatch + tierUp(T=2) each, then compacts the log into `out`. */
  private def streamIngest(c: Ctx, batches: Seq[DataFrame], work: String, out: String): Ingested = {
    var merges = 0
    val commits = batches.zipWithIndex.map { case (p, b) =>
      val (_, built) = timed(c.tracer.op("StreamIngest.ingestBatch", "streamingest")(
        StreamIngest.ingestBatch(c.spark, p, work, Cfg, b.toLong)))
      val (m, tiered) = timed(c.tracer.op("StreamIngest.tierUp", "merge")(
        StreamIngest.tierUp(c.spark, work, 2)))
      merges += m.size
      (built, tiered)
    }
    val live = StreamIngest.currentUnits(c.spark, work).size
    val (_, compact) = timed(c.tracer.op("StreamIngest.compact", "merge")(
      StreamIngest.compact(c.spark, work, out)))
    Ingested(commits, merges, live, compact)
  }

  // ---------------------------------------------------------- query_batch
  private def batchInputs(c: Ctx) = {
    val corpus = Corpus(CorpusSeed, BatchDocs)
    val (docs, df) = c.generate(corpus)
    val pool = Corpus.queries(corpus, df, Cfg.headDf, 4 * BatchQueries, 1, BatchMix, salt = 6)
    val expected = c.oracle(s"query_batch-$BatchDocs")(Check.oracle(c.spark, docs, pool, K))
    (corpus, docs, pool, expected)
  }

  /** Closed loop, one client: 1000-query OR batches back to back on one
    * opened doc-partitioned serving handle. Set-up is the serving
    * pipeline: the corpus arrives as `IngestBatches` page micro-batches
    * through ingestBatch + tierUp(T=2), the log is compacted, and the
    * serving layout is derived from the compacted index and opened. */
  private def queryBatch(c: Ctx, s: Layers.Sink): Unit = {
    val (corpus, docs, pool, expected) = batchInputs(c)
    // Each micro-batch is one feed's pages. The stream numbers a batch's
    // docs by url rank and offsets them past earlier batches; urls here
    // hold fixed-width ids (doc_id + base) under one feed name, so that
    // numbering reproduces the corpus doc_ids and the oracle can run on
    // the corpus itself.
    val base = math.pow(10, BatchDocs.toString.length).toLong
    // micro-batch sizes vary with the seed by up to a fifth of their mean
    val rng = Corpus.rng(c.seed, 31L)
    val bounds = (0 to IngestBatches).map { b =>
      if (b == 0 || b == IngestBatches) b.toLong * BatchDocs / IngestBatches
      else ((b + 0.2 * (rng.nextDouble() - 0.5)) * BatchDocs / IngestBatches).toLong
    }
    val pages = bounds.sliding(2).zipWithIndex.map { case (Seq(lo, hi), b) =>
      Pages.fromDocuments(docs.where(col("doc_id") >= lo && col("doc_id") < hi)
        .select((col("doc_id") + base).as("doc_id"), col("text"), col("lang"), lit(s"feed$b").as("source")))
    }.toSeq
    val qs = Corpus.draw(pool, BatchQueries, BatchMix, c.seed, salt = 6)
    c.note("oracle")
    val compacted = c.dir("compacted")
    val serving = c.dir("serving")

    c.drainListeners()
    val written0 = c.writes.bytes.get
    val t0 = System.nanoTime()
    val ing = streamIngest(c, pages, c.dir("log"), compacted)
    val (_, paused) = timed(c.drainListeners()) // not set-up: the benchmark's own wait
    val written = c.writes.bytes.get - written0
    val (_, derive) = timed(c.tracer.op("IndexBuild.deriveDocPartitioned", "indexbuild")(
      IndexBuild.deriveDocPartitioned(c.spark, compacted, serving)))
    val (h, opened) = timed(open(c, serving, cache = true))
    val (first, fill) = timed(ask(c, h, qs, effort(c)))
    check(c, "first batch", expected, qs, first)
    val timeToServe = ing.commits.map(x => x._1 + x._2).sum + ing.compact + derive + opened + fill
    val setup = System.nanoTime() - t0 - paused
    c.note("setup")
    val (_, warmup) = timed(for (_ <- 1 to WarmBatches)
      check(c, "warm-up batch", expected, qs, ask(c, h, qs, None)))
    c.note("warm-up")

    val efforts = Seq.newBuilder[QueryEngine.EffortAccs]
    val (plain, tracedNs) = c.loop(1) {
      val e = effort(c)
      e.foreach(efforts += _)
      val (hits, wall) = timed(ask(c, h, qs, e))
      check(c, "batch", expected, qs, hits)
      wall
    }
    val w1 = System.nanoTime()
    c.note("window")
    val cacheMb = c.cacheMb
    val heapMb = c.liveHeapMb()

    val walls = (plain ++ tracedNs).map(_.toDouble)
    c.note("batch walls ms " + walls.map(w => (w / 1e6).round).mkString(" "))
    val p50 = Stat.median(walls)
    val qps = BatchQueries * walls.size / (walls.sum / 1e9)
    if (!c.traceMode) {
      c.report.e2e("live_heap_mb", heapMb, "MB", "after a full GC at the end of the window")
      c.report.e2e("setup_s", Stat.secs(setup), "s",
        "stream ingest + compact + derive + open + first batch")
      c.report.e2e("op_p50_ms", p50 / 1e6, "ms", s"1000-query batch wall, n=${walls.size}")
      c.report.show("index_bytes_per_doc", Main.dataBytes(serving).toDouble / BatchDocs, "B",
        "doc-partitioned serving index data files")
      c.report.show("batch_qps", qps, "1/s", s"n=${walls.size}")
      c.report.show("batch_p50_s", p50 / 1e9, "s", s"n=${walls.size}")
      c.report.show("warmup_s", Stat.secs(warmup), "s", s"$WarmBatches batches after set-up, untimed")
      c.report.show("time_to_serve_s", Stat.secs(timeToServe), "s",
        "ingest + compact + derive + open + first batch walls, n=1")
      c.report.show("serve_cache_mb", cacheMb, "MB", "serving handle storage")
      val commits = ing.commits.map { case (a, b) => (a + b).toDouble }
      c.report.show("ingest_docs_per_s", BatchDocs / (commits.sum / 1e9), "docs/s",
        s"set-up stream ingest, $IngestBatches micro-batches")
      c.report.show("commit_p50_s", Stat.median(commits) / 1e9, "s", s"ingestBatch + tierUp, n=${commits.size}")
      c.report.show("compact_s", Stat.secs(ing.compact), "s", "n=1")
      c.report.show("write_amp", written.toDouble / Main.dataBytes(compacted), "ratio",
        "bytes written by commits, merges and compact / compacted bytes")
    } else {
      val tr = c.tracer.trace()
      val batches = tr.ops("QueryEngine.runOnHandle").filter(o => o.startNs >= c.windowFrom && o.endNs <= w1)
      Layers.query(s, tr, batches, BatchQueries.toDouble * batches.size)
      Layers.common(s, tr, batches, c.tracedRounds.toSeq)
      Layers.setupSelf(s, tr)
      Layers.scorer(s, efforts.result(), tracedNs.size)
      Layers.build(s, tr, tr.ops("StreamIngest.ingestBatch"), BatchDocs.toDouble / IngestBatches,
        postingRows(c, compacted) / IngestBatches)
      s("streamingest.batch_build_s") = Stat.mean(ing.commits.map(x => Stat.secs(x._1)))
      s("merge.tierup_s") = Stat.mean(ing.commits.map(x => Stat.secs(x._2)))
      s("merge.merges") = ing.merges
      s("streamingest.live_units") = ing.live
      s("merge.bytes_rewritten") =
        tr.ops("StreamIngest.tierUp").flatMap(o => tr.stagesOf(o.id)).map(_.outputBytes).sum.toDouble
      s("indexbuild.derive_s") = Stat.secs(derive)
      s("queryengine.open_s") = Stat.secs(opened)
      s("queryengine.cache_fill_s") = math.max(0.0, Stat.secs(fill) - p50 / 1e9)
      s("queryengine.batch_fixed_s") = oovFixed(c, h, corpus)
      s("trace.overhead_share") = Stat.median(tracedNs.map(_.toDouble)) / Stat.median(plain.map(_.toDouble)) - 1
      codecLayer(c, s, serving)
    }
    h.close()
  }

  /** Median wall of a one-query call holding one out-of-vocabulary word:
    * the per-call cost with no scoring work. */
  private def oovFixed(c: Ctx, h: QueryEngine.IndexHandle, corpus: Corpus): Double = {
    val rng = Corpus.rng(corpus.seed, 11L)
    Stat.median((1 to 5).map { i =>
      val q = GenQuery(900000 + i, Kind.Oov, Seq(Corpus.oovWord(rng)))
      val (hits, wall) = timed(ask(c, h, Seq(q), None))
      c.report.checked("oov call", if (hits.isEmpty) Nil else Seq(q.id))
      Stat.secs(wall)
    })
  }

  // ---------------------------------------------------- query_interactive
  private def interactiveInputs(c: Ctx) = {
    val corpus = Corpus(CorpusSeed, InteractiveDocs)
    val (docs, df) = c.generate(corpus)
    val pool = Corpus.queries(corpus, df, Cfg.headDf, Kind.maxId * (1 + WarmRounds + Rounds), 1, Even,
      salt = 5)
    val expected = c.oracle(s"query_interactive-$InteractiveDocs")(Check.oracle(c.spark, docs, pool, K))
    (corpus, docs, pool, expected)
  }

  /** Closed loop, one client: single-query calls back to back on an
    * uncached term-partitioned index built by writeIndex in set-up. The
    * requests come in rounds of one head, tail, AND and OOV query each,
    * and a run measures whole rounds, so every run holds the same number
    * of each kind; the seed draws the queries. One request in flight, so a
    * latency is the call's own cost. */
  private def queryInteractive(c: Ctx, s: Layers.Sink): Unit = {
    val (corpus, docs, pool, expected) = interactiveInputs(c)
    val drawn = Corpus.rounds(pool, 1 + WarmRounds + Rounds, c.seed, salt = 5)
    val (first, rest) = drawn.splitAt(Kind.maxId)
    val (warm, reqs) = rest.splitAt(WarmRounds * Kind.maxId)
    c.note("oracle")
    val term = c.dir("term")

    val t0 = System.nanoTime()
    writeIndex(c, docs, term)
    val h = open(c, term, cache = false)
    first.foreach(q => check(c, "first request", expected, Seq(q), ask(c, h, Seq(q), None)))
    val setup = System.nanoTime() - t0
    c.note("setup")
    val (_, warmup) = timed(warm.foreach(q => check(c, "warm-up request", expected, Seq(q), ask(c, h, Seq(q), None))))
    c.note("warm-up")

    var i = 0
    val efforts = Seq.newBuilder[QueryEngine.EffortAccs]
    val (plain, traced) = c.loop(Kind.maxId) {
      val q = reqs(i % reqs.size)
      i += 1
      val e = effort(c)
      e.foreach(efforts += _)
      val (hits, wall) = timed(ask(c, h, Seq(q), e))
      check(c, "request", expected, Seq(q), hits)
      (q.kind, wall.toDouble)
    }
    val w1 = System.nanoTime()
    c.note("window")
    val heapMb = c.liveHeapMb()

    val done = plain ++ traced
    val lat = done.map(_._2)
    c.note("latencies ms " + done.map { case (k, l) => s"$k:${(l / 1e6).round}" }.mkString(" "))
    if (!c.traceMode) {
      c.report.e2e("live_heap_mb", heapMb, "MB", "after a full GC at the end of the window")
      c.report.e2e("setup_s", Stat.secs(setup), "s",
        s"writeIndex + open + first round of ${Kind.maxId} requests")
      c.report.e2e("op_p50_ms", Stat.median(lat) / 1e6, "ms", s"single-query call latency, n=${lat.size}")
      c.report.show("warmup_s", Stat.secs(warmup), "s",
        s"$WarmRounds rounds of ${Kind.maxId} requests after set-up, untimed")
      c.report.show("index_bytes_per_doc", Main.dataBytes(term).toDouble / InteractiveDocs, "B",
        "term-partitioned index data files")
      c.report.show("query_p50_ms", Stat.median(lat) / 1e6, "ms", s"n=${lat.size}")
      c.report.show("query_p90_ms", Stat.pct(lat, 0.9) / 1e6, "ms",
        s"n=${lat.size}" + (if (lat.size < 100) ", indicative: under 10 samples above it" else ""))
      c.report.show("calls_per_s", lat.size / (lat.sum / 1e9), "1/s", "one client")
      Kind.values.foreach { k =>
        val l = done.filter(_._1 == k).map(_._2)
        c.report.show(s"query_p50_ms.${k.toString.toLowerCase}", Stat.median(l) / 1e6, "ms", s"n=${l.size}")
      }
    } else {
      val tr = c.tracer.trace()
      val ops = tr.ops("QueryEngine.runOnHandle").filter(o => o.startNs >= c.windowFrom && o.endNs <= w1)
      Layers.query(s, tr, ops, ops.size.toDouble)
      Layers.common(s, tr, ops, c.tracedRounds.toSeq)
      Layers.setupSelf(s, tr)
      val es = efforts.result()
      Layers.scorer(s, es, es.size)
      s("queryengine.rare_path_share") = es.count(_.wandCalls.sum > 0).toDouble / math.max(1, es.size)
      Layers.build(s, tr, tr.ops("IndexBuild.writeIndex"), InteractiveDocs, postingRows(c, term))
      s("queryengine.open_s") = tr.ops("QueryEngine.openIndex").headOption.map(o => Stat.secs(o.durNs)).getOrElse(0.0)
      s("queryengine.batch_fixed_s") = oovFixed(c, h, corpus)
      s("trace.overhead_share") = Stat.median(traced.map(_._2)) / Stat.median(plain.map(_._2)) - 1
      codecLayer(c, s, term)
    }
  }
}
