package perfbench

import graft.{Codec, PostingRow, QueryEngine}
import scala.collection.mutable

/** Per-layer metrics of a traced run. Every name is always reported; a
  * layer the workload does not exercise reads 0. Per-operation figures are
  * means over the workload's traced operations unless named a median. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "indexbuild.heads_s" -> "s", "indexbuild.map_s" -> "s", "indexbuild.reduce_write_s" -> "s",
    "indexbuild.tails_s" -> "s", "indexbuild.shuffle_bytes_per_doc" -> "B",
    "indexbuild.partials_per_list" -> "ratio", "indexbuild.gc_share" -> "share",
    "indexbuild.jobs_per_build" -> "count", "indexbuild.derive_s" -> "s",
    "codec.bytes_per_posting" -> "B", "codec.decode_ns_per_posting" -> "ns",
    "codec.encode_ns_per_posting" -> "ns",
    "streamingest.batch_build_s" -> "s", "streamingest.live_units" -> "count",
    "merge.tierup_s" -> "s", "merge.merges" -> "count", "merge.bytes_rewritten" -> "B",
    "queryengine.batch_fixed_s" -> "s", "queryengine.jobs_per_batch" -> "count",
    "queryengine.driver_s" -> "s", "queryengine.input_bytes_per_query" -> "B",
    "queryengine.rare_path_share" -> "share", "queryengine.open_s" -> "s",
    "queryengine.cache_fill_s" -> "s",
    "buckettaat.decode_ms" -> "ms", "buckettaat.contrib_ms" -> "ms", "buckettaat.score_ms" -> "ms",
    "buckettaat.merge_ms" -> "ms", "buckettaat.docs_touched" -> "count",
    "buckettaat.buckets_skipped" -> "count", "wand.blocks_decoded_ratio" -> "share",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "self.indexbuild_s" -> "s", "self.streamingest_s" -> "s", "self.merge_s" -> "s",
    "self.queryengine_s" -> "s", "self.spark_job_s" -> "s", "self.spark_stage_s" -> "s",
    "trace.unattributed_share" -> "share", "trace.overhead_share" -> "share")

  /** Collects layer values; [[flush]] writes all of [[Names]] to the report. */
  final class Sink {
    private val v = mutable.Map.empty[String, Double]
    def update(name: String, x: Double): Unit = {
      require(Names.exists(_._1 == name), s"unknown layer metric $name"); v(name) = x
    }
    def flush(r: Report): Unit = Names.foreach { case (n, u) => r.layer(n, v.getOrElse(n, 0.0), u) }
  }

  /** IndexBuild phases of one build operation, split at the fused partials
    * map stage (the build stage with the largest shuffle write): heads =
    * op start to that stage's submission, map = the stage, reduce_write =
    * its end to the end of its job (reduce merge + segment write), tails =
    * the rest of the op (stats, manifest, meta commit). */
  def buildPhases(tr: Trace, op: Span): Option[(Long, Long, Long, Long, StageRec)] = {
    val st = tr.stagesOf(op.id).filter(_.shuffleWrite > 0)
    val own = st.filter(_.name.contains("IndexBuild"))
    (if (own.nonEmpty) own else st).maxByOption(_.shuffleWrite).map { m =>
      val jobEnd = tr.jobsOf(op.id).find(_.stageIds.contains(m.stageId)).map(_.endNs).getOrElse(m.endNs)
      (m.startNs - op.startNs, m.durNs, jobEnd - m.endNs, op.endNs - jobEnd, m)
    }
  }

  /** indexbuild.* over `ops`, each building `docs` docs into `rows` final
    * posting rows. */
  def build(s: Sink, tr: Trace, ops: Seq[Span], docs: Double, rows: Double): Unit = {
    val ph = ops.flatMap(o => buildPhases(tr, o))
    if (ph.nonEmpty) {
      s("indexbuild.heads_s") = Stat.median(ph.map(p => Stat.secs(p._1)))
      s("indexbuild.map_s") = Stat.median(ph.map(p => Stat.secs(p._2)))
      s("indexbuild.reduce_write_s") = Stat.median(ph.map(p => Stat.secs(p._3)))
      s("indexbuild.tails_s") = Stat.median(ph.map(p => Stat.secs(p._4)))
      s("indexbuild.partials_per_list") = Stat.mean(ph.map(_._5.shuffleWriteRecords / rows))
    }
    val st = ops.map(o => tr.stagesOf(o.id))
    s("indexbuild.shuffle_bytes_per_doc") = Stat.mean(st.map(_.map(_.shuffleWrite).sum / docs))
    val run = st.flatten.map(_.runMs).sum
    s("indexbuild.gc_share") = if (run == 0) 0.0 else st.flatten.map(_.gcMs).sum.toDouble / run
    s("indexbuild.jobs_per_build") = Stat.mean(ops.map(o => tr.jobsOf(o.id).size.toDouble))
  }

  /** spark.* per operation over `ops`, the self time of the query and
    * Spark layers per operation, and the unattributed share of the traced
    * rounds `rounds`. */
  def common(s: Sink, tr: Trace, ops: Seq[Span], rounds: Seq[(Long, Long)]): Unit = {
    if (ops.nonEmpty) {
      val n = ops.size.toDouble
      val st = ops.flatMap(o => tr.stagesOf(o.id))
      s("spark.jobs") = ops.map(o => tr.jobsOf(o.id).size).sum / n
      s("spark.tasks") = st.map(_.tasks).sum / n
      s("spark.task_cpu_s") = st.map(_.cpuNs).sum / 1e9 / n
      s("spark.gc_s") = st.map(_.gcMs).sum / 1e3 / n
      s("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum / n
      s("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum / n
      s("spark.spill_bytes") = st.map(_.spill).sum / n
      val self = tr.selfTimeNs(ops.map(_.id).toSet)
      Seq("queryengine", "spark.job", "spark.stage").foreach { l =>
        s(s"self.${l.replace('.', '_')}_s") = self.getOrElse(l, 0L) / 1e9 / n
      }
    }
    s("trace.unattributed_share") = tr.unattributedShare(rounds)
  }

  /** Self time of the build, ingest and merge layers per set-up call of
    * the layer: the calls' wall not covered by the Spark jobs they ran,
    * i.e. the layer's driver-side time. */
  def setupSelf(s: Sink, tr: Trace): Unit = {
    val layers = Seq("indexbuild", "streamingest", "merge")
    val ops = tr.spans.filter(o => o.parent == 0 && layers.contains(o.layer))
    val self = tr.selfTimeNs(ops.map(_.id).toSet)
    layers.foreach { l =>
      val n = ops.count(_.layer == l)
      if (n > 0) s(s"self.${l}_s") = self.getOrElse(l, 0L) / 1e9 / n
    }
  }

  /** queryengine.* over query operations answering `queries` queries in
    * total. */
  def query(s: Sink, tr: Trace, ops: Seq[Span], queries: Double): Unit =
    if (ops.nonEmpty) {
      s("queryengine.jobs_per_batch") = Stat.mean(ops.map(o => tr.jobsOf(o.id).size.toDouble))
      s("queryengine.driver_s") = Stat.median(ops.map { o =>
        val st = tr.stagesOf(o.id).map(x => (x.startNs, x.endNs))
        Stat.secs(o.durNs - Trace.unionNs(st, o.startNs, o.endNs))
      })
      s("queryengine.input_bytes_per_query") =
        ops.flatMap(o => tr.stagesOf(o.id)).map(_.inputBytes).sum / queries
    }

  /** buckettaat.* per query operation, from the scorer's own accumulators. */
  def scorer(s: Sink, effort: Seq[QueryEngine.EffortAccs], ops: Int): Unit =
    if (ops > 0) {
      def per(f: QueryEngine.EffortAccs => Long) = effort.map(f).sum.toDouble / ops
      s("buckettaat.decode_ms") = per(_.decodeNanos.sum) / 1e6
      s("buckettaat.contrib_ms") = per(_.contribNanos.sum) / 1e6
      s("buckettaat.score_ms") = per(_.scoreNanos.sum) / 1e6
      s("buckettaat.merge_ms") = per(_.mergeNanos.sum) / 1e6
      s("buckettaat.docs_touched") = per(_.docsScored.sum)
      s("buckettaat.buckets_skipped") = per(_.bucketsSkipped.sum)
      val total = effort.map(_.blocksTotal.sum).sum
      if (total > 0) s("wand.blocks_decoded_ratio") = effort.map(_.blocksDecoded.sum).sum.toDouble / total
    }

  /** Sink for kernel results, so the timed calls cannot be optimized away. */
  @volatile var blackhole = 0L

  /** Codec kernel timing over sampled segment rows: decode every block
    * with `Codec.decodeBlock`, and re-encode every row's postings with
    * `Codec.encodeBlocks`, each repeated for `budgetS` seconds. */
  def codec(s: Sink, tracer: Tracer, rows: Seq[PostingRow], blockSize: Int, budgetS: Double): Unit =
    if (rows.nonEmpty) {
      val postings = rows.map(_.n).sum.toDouble
      s("codec.bytes_per_posting") = rows.flatMap(_.blocks).map(_.bytes.length.toLong).sum / postings
      def repeat(body: => Unit): Double = {
        val t0 = System.nanoTime()
        var reps = 0
        while (reps == 0 || System.nanoTime() - t0 < budgetS * 1e9) { body; reps += 1 }
        (System.nanoTime() - t0).toDouble / (reps * postings)
      }
      val decoded = rows.map { r =>
        val parts = r.blocks.map(Codec.decodeBlock)
        (parts.flatMap(_._1).toArray, parts.flatMap(_._2).toArray, parts.flatMap(_._3).toArray,
          r.blocks.head.codec)
      }
      s("codec.decode_ns_per_posting") = tracer.op("Codec.decodeBlock", "codec") {
        repeat(rows.foreach(_.blocks.foreach(b => blackhole += Codec.decodeBlock(b)._1.length)))
      }
      s("codec.encode_ns_per_posting") = tracer.op("Codec.encodeBlocks", "codec") {
        repeat(decoded.foreach { case (d, t, l, id) => blackhole += Codec.encodeBlocks(d, t, l, blockSize, id).size })
      }
    }
}
