package perfbench

import graft.{Hit, Oracle, Stats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Answer checking against the exact full-scan oracle. */
object Check {
  type Answers = Map[Int, Seq[Hit]]

  def collectHits(df: DataFrame): Seq[Hit] =
    df.select("query_id", "rank", "doc_id", "score_micro").collect().toSeq
      .map(r => Hit(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  def byQuery(hits: Seq[Hit]): Answers =
    hits.groupBy(_.query_id).map { case (q, hs) => q -> hs.sortBy(_.rank) }

  /** Exact top-k for `queries`: `Oracle.topk` for OR queries; for AND
    * queries the same oracle scores restricted to docs holding every query
    * term (the engine's conjunctive semantics). */
  def oracle(spark: SparkSession, docs: DataFrame, queries: Seq[GenQuery], k: Int): Answers = {
    val (and, or) = queries.partition(_.conjunctive)
    val orHits = if (or.isEmpty) Nil else collectHits(Oracle.topk(spark, docs, k, or.map(_.pair)))
    val andHits = if (and.isEmpty) Nil else collectHits(andTopk(spark, docs, and.map(_.pair), k))
    byQuery(orHits ++ andHits)
  }

  private def andTopk(spark: SparkSession, docs: DataFrame,
                      queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    import spark.implicits._
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }.toDF("query_id", "term")
    val need = queries.map { case (q, ts) => (q, ts.distinct.size.toLong) }.toDF("query_id", "need")
    val holdsAll = Stats.tfRows(docs).join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("m"))
      .join(broadcast(need), "query_id").where($"m" === $"need")
      .select("query_id", "doc_id")
    val w = Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id".asc)
    Oracle.scores(spark, docs, queries).join(holdsAll, Seq("query_id", "doc_id"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
  }

  /** `compute()`, stored at `path` and read back from there on later runs
    * (the answers are a pure function of what the key encodes). */
  def cached(path: java.nio.file.Path)(compute: => Answers): Answers =
    if (java.nio.file.Files.isRegularFile(path)) {
      import scala.jdk.CollectionConverters._
      byQuery(java.nio.file.Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val f = l.split('\t'); Hit(f(0).toInt, f(1).toInt, f(2).toLong, f(3).toLong)
      })
    } else {
      val a = compute
      java.nio.file.Files.createDirectories(path.getParent)
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, a.values.flatten.map(h =>
        s"${h.query_id}\t${h.rank}\t${h.doc_id}\t${h.score_micro}\n").mkString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      a
    }

  /** Ids of the queries in `asked` whose answer in `got` is not
    * rank-identical (same doc_id and score_micro at every rank, no extra or
    * missing rows) to `expected`. Rows for queries not asked also count as
    * a mismatch, charged to the query id they carry. */
  def mismatches(expected: Answers, got: Seq[Hit], asked: Seq[Int]): Seq[Int] = {
    val askedSet = asked.toSet
    val gotBy = byQuery(got)
    val stray = gotBy.keys.filterNot(askedSet).toSeq
    val wrong = asked.filter { q =>
      val e = expected.getOrElse(q, Nil)
      val g = gotBy.getOrElse(q, Nil)
      e.size != g.size || e.zip(g).exists { case (a, b) =>
        a.rank != b.rank || a.doc_id != b.doc_id || a.score_micro != b.score_micro
      }
    }
    (wrong ++ stray).distinct.sorted
  }
}
