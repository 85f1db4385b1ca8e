package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The packed serving layout ([[ServingPart]]) and the fixed cost of a
  * batch on a cached handle: lookups return exactly a term's rows, a warm
  * batch is one Spark job (an out-of-vocabulary batch none), and every
  * batch shape served from the packed layout equals the uncached handle
  * and the exact oracle. */
class ServingLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private type Row4 = (Int, Int, Long, Long)

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("target").toAbsolutePath, "serve").toString

  private def rows(df: DataFrame): Seq[Row4] = {
    import spark.implicits._
    df.select(col("query_id"), col("rank"), col("doc_id"), col("score_micro"))
      .as[Row4].collect().toSeq
  }

  private lazy val docs = Stats.readDocuments(spark, sfDir)

  /** Derived doc-partitioned serving index with lang and n_chars sidecars. */
  private lazy val serveDir: String = {
    val r = tmpDir()
    IndexBuild.writeIndex(spark, docs, s"$r/term", SparkEntry.testConfig)
    IndexBuild.deriveDocPartitioned(spark, s"$r/term", s"$r/serve")
    Attrs.writeAttrs(spark, docs, s"$r/serve", Seq("lang", "n_chars"))
    s"$r/serve"
  }

  /** Result of `body` and the number of Spark jobs it started. Jobs are
    * told apart by a job group; a barrier job in a second group flushes
    * the listener bus (it delivers events in order), so every counted
    * job's start has been seen when the barrier's has. */
  private def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => n.incrementAndGet()
          case g if g == s"$group-barrier" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-barrier", "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def row(term: String, bucket: Int, seed: Int): PostingRow = {
    val rnd = new scala.util.Random(seed)
    val ds = (0 until 1 + rnd.nextInt(300)).map(_ => bucket * 1000L + rnd.nextInt(1000)).distinct.sorted.toArray
    val tfs = ds.map(_ => 1 + rnd.nextInt(5))
    val dls = ds.map(_ => 10 + rnd.nextInt(90))
    PostingRow(rnd.nextInt(8), term, bucket, ds.length.toLong, tfs.sum.toLong, ds.head,
      Codec.encodeBlocks(ds, tfs, dls, Codec.BlockSize, if (seed % 2 == 0) Codec.VByteId else Codec.PForId))
  }

  /** Field-wise row identity (Block holds an Array, so case-class == compares references). */
  private def same(a: PostingRow, b: PostingRow): Boolean =
    a.copy(blocks = Nil) == b.copy(blocks = Nil) && a.blocks.size == b.blocks.size &&
      a.blocks.zip(b.blocks).forall { case (x, y) =>
        x.copy(bytes = Array.emptyByteArray) == y.copy(bytes = Array.emptyByteArray) &&
          java.util.Arrays.equals(x.bytes, y.bytes)
      }

  test("packed lookup returns exactly each term's rows: hash collisions, filter lists, split parts") {
    // "Aa" and "BB" share a String.hashCode, so the directory holds equal
    // keys for different terms; the lookup must tell them apart
    assert("Aa".hashCode == "BB".hashCode)
    val terms = Seq("Aa", "BB", "the", "ünïcode-词", "rare")
    val postings = for ((t, i) <- terms.zipWithIndex; b <- 0 to i) yield row(t, b, 31 * i + b)
    val filters = Seq(Attrs.filterTerm("lang", "en"), Attrs.filterTerm("lang", "de"),
      Attrs.filterTerm("n_chars", "120"))
      .zipWithIndex.flatMap { case (t, i) => (0 to 2).map(b => row(t, b, 1000 + 7 * i + b)) }
    val all = scala.util.Random.shuffle(postings ++ filters)
    for (maxBytes <- Seq(ServingPart.MaxPartBytes, 2048)) {
      val parts = ServingPart.pack(all.iterator, maxBytes).toSeq
      if (maxBytes == 2048) assert(parts.size > 1, "small budget did not split the partition")
      def lookup(ts: Seq[String], f: String => Boolean) = parts.flatMap(_.lookup(ts, f))
      terms.foreach { t =>
        val got = lookup(Seq(t), _ => false)
        val want = postings.filter(_.term == t)
        assert(got.size == want.size, s"$t: ${got.size} rows, want ${want.size}")
        assert(want.forall(w => got.exists(same(_, w))), s"$t: rows differ")
      }
      assert(lookup(Seq("absent", "Ab"), _ => false).isEmpty)
      val de = Attrs.filterTerm("lang", "de")
      val gotF = lookup(Nil, _ == de)
      assert(gotF.size == 3 && gotF.forall(r => filters.exists(same(r, _))) && gotF.forall(_.term == de))
      // every row, each exactly once
      assert(lookup(terms, _ => true).size == all.size)
    }
  }

  test("warm batch on a cached doc-partitioned handle: OR batch = 1 job, OOV batch = 0 jobs") {
    val h = QueryEngine.openIndex(spark, serveDir)
    try {
      val or = QuerySet.queryTerms.filter(q => Set(1, 2).contains(q._1))
      val oov = Seq((1, Seq("zzznotfound")), (2, Seq("qqqnever", "xxxnowhere")))
      // warm: the first batch fills the serving cache, and both batches
      // memoize their terms' stats on the handle
      val want = rows(QueryEngine.runOnHandle(spark, h, or))
      assert(want.nonEmpty)
      assert(rows(QueryEngine.runOnHandle(spark, h, oov)).isEmpty)
      val (got, orJobs) = countJobs(rows(QueryEngine.runOnHandle(spark, h, or)))
      assert(got == want)
      assert(got == rows(Oracle.topk(spark, docs, queries = or)))
      assert(orJobs == 1, s"warm OR batch ran $orJobs jobs")
      val (none, oovJobs) = countJobs(rows(QueryEngine.runOnHandle(spark, h, oov)))
      assert(none.isEmpty)
      assert(oovJobs == 0, s"OOV batch ran $oovJobs jobs")
      // an AND batch with a term missing from the index is empty, no job
      val (andNone, andJobs) = countJobs(rows(QueryEngine.runOnHandle(spark, h,
        Seq((3, Seq("hash", "zzznotfound"))), conjunctive = true)))
      assert(andNone.isEmpty && andJobs == 0, s"AND batch with an absent term ran $andJobs jobs")
    } finally h.close()
  }

  /** Exact conjunctive top-k: the oracle's scores restricted to docs that
    * hold every distinct term of the query. */
  private def andOracle(queries: Seq[(Int, Seq[String])], k: Int): Seq[Row4] = {
    import spark.implicits._
    val need = queries.map { case (q, ts) => q -> ts.distinct.size.toLong }.toMap
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }.toDF("query_id", "term")
    val holdsAll = Stats.tfRows(docs).join(qt, "term").groupBy("query_id", "doc_id").count()
      .as[(Int, Long, Long)].collect().collect { case (q, d, m) if m == need(q) => (q, d) }.toSet
    Oracle.scores(spark, docs, queries).as[(Int, Long, Long)].collect()
      .filter(r => holdsAll((r._1, r._2))).toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex.map { case (r, i) => (q, i + 1, r._2, r._3) }
      }
  }

  test("filtered (IN, BETWEEN) and AND batches: cached handle == uncached handle == oracle") {
    val cached = QueryEngine.openIndex(spark, serveDir)
    val uncached = QueryEngine.openIndex(spark, serveDir, cacheServing = false)
    try {
      assert(cached.attrsCached && cached.served.isDefined && uncached.served.isEmpty)
      def both(run: QueryEngine.IndexHandle => DataFrame): Seq[Row4] = {
        val c = rows(run(cached))
        assert(c == rows(run(uncached)), "cached handle != uncached handle")
        c
      }
      val in = both(QueryEngine.runOnHandle(spark, _, filter = Some(("lang", Seq("es", "de")))))
      assert(in.nonEmpty)
      assert(in == rows(Oracle.topkFiltered(spark, docs, "lang", Seq("es", "de"))))
      val (lo, hi) = (120.0, 260.0)
      val between = both(QueryEngine.runOnHandle(spark, _, rangeFilter = Some(("n_chars", lo, hi))))
      assert(between.nonEmpty)
      assert(between == rows(Oracle.topkFilteredRange(spark, docs, "n_chars", lo, hi)))
      val and = both(QueryEngine.runOnHandle(spark, _, conjunctive = true))
      assert(and.nonEmpty)
      assert(and == andOracle(QuerySet.queryTerms, QuerySet.K))
    } finally cached.close()
  }

  test("rare-term batch on a term-partitioned index: rows come back in (query_id, rank) order") {
    import spark.implicits._
    // no term reaches headDf, so nothing is salted and every batch takes
    // the pruned rare-term path
    val small = (0L until 300L).map(d => (d, s"r${d % 23} s${d % 7} t${d % 5} filler"))
      .toDF("doc_id", "text")
    val cfg = IndexBuild.Config(numPartitions = 8, bucketWidth = 64, headDf = 1000)
    val dir = tmpDir()
    val meta = IndexBuild.writeIndex(spark, small, dir, cfg)
    // query ids out of order, so an unsorted result would show
    val queries = Seq((9, Seq("r3")), (2, Seq("s1", "r5")), (5, Seq("t4")), (1, Seq("r7", "s0", "zz")))
    val maxBucket = IndexBuild.readTermStats(spark, dir).select($"term", $"max_bucket")
      .as[(String, Int)].collect().toMap
    assert(maxBucket.values.forall(_ == 0))
    assert(QueryEngine.prunedPartIds(spark, meta, maxBucket, queries).isDefined,
      "batch no longer takes the pruned rare-term path")
    // keep the per-query grouping spread over several shuffle partitions:
    // coalesced into one, its key-sorted output would look ordered anyway
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    val got = try rows(QueryEngine.runOnIndex(spark, dir, queries))
              finally spark.conf.set(coalesce, was)
    assert(got.map(_._1).distinct.size == queries.size)
    assert(got == got.sortBy(r => (r._1, r._2)))
    assert(got == rows(Oracle.topk(spark, small, queries = queries)))
  }
}
