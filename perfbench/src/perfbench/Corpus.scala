package perfbench

import org.apache.spark.sql.SparkSession

/** Query kinds of the generated mix. Head queries hold at least one term
  * the build salts into docId buckets (df > headDf); tail queries hold only
  * unsalted terms, so term-partitioned pruning reads one partition per
  * term; AND queries run conjunctive; OOV queries hold only words that
  * never occur. */
object Kind extends Enumeration {
  val Head, Tail, And, Oov = Value
}

final case class GenQuery(id: Int, kind: Kind.Value, terms: Seq[String]) {
  def conjunctive: Boolean = kind == Kind.And
  def pair: (Int, Seq[String]) = (id, terms)
}

/** Seeded synthetic corpus: `nDocs` docs whose tokens are drawn from a Zipf
  * law (exponent `zipfS`) over a `vocab`-word vocabulary, doc lengths
  * uniform in [minLen, maxLen]. Every doc is a pure function of
  * (seed, doc_id), so the corpus does not depend on how Spark splits the id
  * range. The basis of every default is in perfbench/README.md ("Inputs").
  *
  * Vocabulary: one rank in ten is a number token (its rank in decimal),
  * the rest are random words over 'a'..'y' whose length grows with rank,
  * as in natural text. Number tokens are kept because real corpora are
  * full of them and their string hashes are sequential, unlike words'. */
final case class Corpus(seed: Long, nDocs: Int, vocab: Int = 42000,
                        zipfS: Double = 1.0, minLen: Int = 10, maxLen: Int = 100) {

  @transient lazy val words: Array[String] = Corpus.vocabulary(vocab)

  def cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
    var acc = 0.0
    var i = 0
    while (i < vocab) { acc += w(i); w(i) = acc; i += 1 }
    i = 0
    while (i < vocab) { w(i) /= acc; i += 1 }
    w
  }

  /** Term ranks of one doc, in text order. */
  def ranks(docId: Long, cdf: Array[Double]): Array[Int] = {
    val rng = Corpus.rng(seed, docId)
    val len = minLen + rng.nextInt(maxLen - minLen + 1)
    Array.fill(len) {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
  }

  /** One doc's (doc_id, text, lang, source). */
  def doc(docId: Long, cdf: Array[Double]): (Long, String, String, String) = {
    val w = words
    val text = ranks(docId, cdf).map(w(_)).mkString(" ")
    val rng = Corpus.rng(seed ^ 0x5bd1e995L, docId)
    val l = rng.nextInt(Corpus.LangEdges.last)
    (docId, text, Corpus.Langs(Corpus.LangEdges.lastIndexWhere(_ <= l)),
      Corpus.Sources(rng.nextInt(Corpus.Sources.size)))
  }

  /** Generates the corpus on the driver, writes it as parquet (doc_id,
    * text, lang, source) in `slices` files, and returns the exact document
    * frequency of every rank. */
  def write(spark: SparkSession, dir: String, slices: Int): Array[Int] = {
    import spark.implicits._
    val c = cdf
    val df = new Array[Int](vocab)
    val stamp = Array.fill(vocab)(-1L)
    val rows = (0L until nDocs.toLong).map { d =>
      ranks(d, c).foreach { r => if (stamp(r) != d) { stamp(r) = d; df(r) += 1 } }
      doc(d, c)
    }
    // contiguous doc_id ranges per file, in order, like a corpus table
    spark.createDataset(rows).coalesce(slices)
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(dir)
    df
  }
}

object Corpus {
  /** Languages and sources in the proportions of the sf0.1 documents table. */
  val Langs = Vector("en", "zh", "es", "fr", "de")
  private val LangEdges = Vector(2059, 753, 744, 742, 702).scanLeft(0)(_ + _)
  val Sources = Vector.tabulate(20)(i => s"src$i")

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  def rng(seed: Long, key: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix64(mix64(seed) ^ key))

  /** Rank → token, the same for every seed (see [[Corpus]]). */
  def vocabulary(n: Int): Array[String] = {
    val rng = new java.util.SplittableRandom(0x70b1c5L)
    val seen = scala.collection.mutable.HashSet.empty[String]
    Array.tabulate(n) { r =>
      if (r % 10 == 7) r.toString
      else {
        val len = math.min(12, 2 + rng.nextInt(3) + (1.5 * math.log10(r + 1.0)).toInt)
        var w = ""
        while (w.isEmpty || seen.contains(w))
          w = Iterator.fill(len)(('a' + rng.nextInt(25)).toChar).mkString
        seen += w
        w
      }
    }
  }

  /** A word no generated doc contains (vocabulary words have no 'z'). */
  def oovWord(rng: java.util.SplittableRandom): String =
    "z" + Iterator.fill(6)(('a' + rng.nextInt(26)).toChar).mkString

  /** Shape summary printed with every run, so a changed generator shows. */
  def shape(c: Corpus, df: Array[Int], headDf: Long): String = {
    val edges = (Seq(0L, 1L, 10L, 100L, headDf + 1, 10000L, c.nDocs.toLong / 2 + 1) :+ Long.MaxValue).distinct.sorted
    val hist = edges.sliding(2).map { case Seq(lo, hi) =>
      val n = df.count(d => d >= lo && d < hi)
      val label = if (hi == Long.MaxValue) s"[$lo,inf)" else s"[$lo,$hi)"
      s"$label:$n"
    }.mkString(" ")
    val heads = df.count(_ > headDf)
    s"corpus seed=${c.seed} docs=${c.nDocs} vocab=${c.vocab} zipf_s=${c.zipfS} " +
      s"len=[${c.minLen},${c.maxLen}] drawn_terms=${df.count(_ > 0)} head_terms(df>$headDf)=$heads " +
      s"df_hist $hist"
  }

  /** Seeded query mix of `n` queries with ids from `firstId`. `weights`
    * gives the shares of (Head, Tail, And, Oov); the count of each kind is
    * fixed by the shares and only the order and the terms vary with the
    * seed. Term choice uses the exact df table, so the kinds mean the same
    * thing at every corpus size. */
  def queries(c: Corpus, df: Array[Int], headDf: Long, n: Int, firstId: Int,
              weights: (Double, Double, Double, Double), salt: Long): Seq[GenQuery] = {
    val ranks = df.indices
    // head terms from the salted band below the stop-word-like top terms
    // (df > nDocs/10), whose few postings lists would dominate a batch's
    // cost and make it swing with the seed
    val head = ranks.filter(r => df(r) > headDf && df(r) <= c.nDocs / 10).toArray
    val tail = ranks.filter(r => df(r) >= 1 && df(r) <= headDf).toArray
    // AND terms: frequent enough that two of them still co-occur in many docs
    val mid = ranks.filter(r => df(r) >= c.nDocs / 100 && df(r) <= c.nDocs / 8).toArray
    require(head.nonEmpty && tail.nonEmpty && mid.nonEmpty,
      s"corpus too small for the query mix: ${head.length} head, ${tail.length} tail, ${mid.length} mid terms")
    val rng = Corpus.rng(c.seed ^ salt, 0x9e3779b9L)
    def pick(a: Array[Int]) = c.words(a(rng.nextInt(a.length)))
    shuffle(kinds(n, weights), rng).zipWithIndex.map { case (kind, i) =>
      val terms = kind match {
        case Kind.Head => pick(head) +: Seq.fill(1 + rng.nextInt(2))(pick(if (rng.nextDouble() < 0.3) head else tail))
        case Kind.Tail => Seq.fill(1 + rng.nextInt(3))(pick(tail))
        case Kind.And => Seq.fill(2)(pick(mid))
        case _ => Seq.fill(1 + rng.nextInt(2))(oovWord(rng))
      }
      GenQuery(firstId + i, kind, terms.distinct)
    }
  }

  /** `n` kinds in the shares `weights` gives, rounded, in kind order. */
  private def kinds(n: Int, weights: (Double, Double, Double, Double)): Seq[Kind.Value] = {
    val (wh, wt, wa, _) = weights
    val counts = Seq(wh, wh + wt, wh + wt + wa).map(x => math.round(x * n).toInt)
    (0 until n).map { i =>
      if (i < counts(0)) Kind.Head else if (i < counts(1)) Kind.Tail
      else if (i < counts(2)) Kind.And else Kind.Oov
    }
  }

  private def shuffle[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** A seeded draw of `n` distinct queries from `pool`, with the kind
    * counts fixed by `weights` as in [[queries]]. */
  def draw(pool: Seq[GenQuery], n: Int, weights: (Double, Double, Double, Double),
           seed: Long, salt: Long): Seq[GenQuery] = {
    val rng = Corpus.rng(seed ^ salt, 0x85ebca6bL)
    val byKind = pool.groupBy(_.kind).map { case (k, qs) => k -> shuffle(qs, rng).iterator }
    shuffle(kinds(n, weights), rng).map(k => byKind(k).next())
  }

  /** `rounds` rounds of one query of each kind, in the fixed kind order
    * (Head, Tail, And, Oov); the seed draws which queries of `pool` fill
    * them. Every run of whole rounds holds the same number of each kind,
    * whatever the seed and however many rounds a run reaches. */
  def rounds(pool: Seq[GenQuery], rounds: Int, seed: Long, salt: Long): Seq[GenQuery] = {
    val rng = Corpus.rng(seed ^ salt, 0x85ebca6bL)
    val byKind = pool.groupBy(_.kind).map { case (k, qs) => k -> shuffle(qs, rng).iterator }
    Seq.fill(rounds)(Kind.values.toSeq.map(k => byKind(k).next())).flatten
  }
}
