package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Counts bytes written by Spark output tasks (parquet files): the
  * numerator of write amplification. One add per completed stage. */
final class WriteCounter extends SparkListener {
  val bytes = new java.util.concurrent.atomic.AtomicLong()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bytes.addAndGet(e.stageInfo.taskMetrics.outputMetrics.bytesWritten)
}

/** What a workload needs: the session, its run directory, the seed, the
  * measuring time and the tracer. The corpus and the oracle answers are
  * kept under `cache`, keyed by `buildId` (a hash of every source file). */
final class Ctx(val spark: SparkSession, val root: String, cache: String, buildId: String,
                val seed: Long, val seconds: Double, val tracer: Tracer, val nproc: Int,
                val report: Report, val writes: WriteCounter) {
  def dir(name: String): String = s"$root/$name"

  private val born = System.nanoTime()

  /** Progress line with the seconds since the run started. */
  def note(msg: String): Unit = println(f"# ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")
  def traceMode: Boolean = tracer.on

  /** The corpus as a parquet table and its df per rank, generated once per
    * build and kept under the cache directory (untimed); prints its shape. */
  def generate(c: Corpus): (DataFrame, Array[Int]) = {
    val dir = Paths.get(cache, s"$buildId-corpus-${c.nDocs}-seed${c.seed}")
    val dfFile = dir.resolve("df.txt")
    if (!Files.isRegularFile(dfFile)) {
      val tmp = Paths.get(dir.toString + ".tmp")
      Main.deleteTree(tmp)
      val df = c.write(spark, tmp.resolve("docs").toString, nproc)
      Files.write(tmp.resolve("df.txt"), df.mkString("\n").getBytes("UTF-8"))
      Main.deleteTree(dir)
      Files.move(tmp, dir)
    }
    import scala.jdk.CollectionConverters._
    val df = Files.readAllLines(dfFile).asScala.map(_.toInt).toArray
    println(Corpus.shape(c, df, Workloads.Cfg.headDf))
    (spark.read.parquet(dir.resolve("docs").toString), df)
  }

  /** Oracle answers for the query pool `key`, computed once per build. */
  def oracle(key: String)(compute: => Check.Answers): Check.Answers =
    Check.cached(Paths.get(cache, s"$buildId-$key.tsv"))(compute)

  /** Waits until no job runs and listener events have been delivered. */
  def drainListeners(): Unit = {
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(5)
    Thread.sleep(200)
  }

  /** Start of the measured window. */
  var windowFrom: Long = 0L
  /** Start and end of every traced round of the window (traced runs). */
  val tracedRounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Runs rounds of `round` steps back to back for the run's seconds, at
    * least one round. In a traced run the rounds alternate untraced and
    * traced, so both kinds sample the same stretch of the run; the steps
    * come back separately (untraced, traced). */
  def loop[T](round: Int)(step: => T): (Seq[T], Seq[T]) = {
    val plain, traced = Seq.newBuilder[T]
    windowFrom = System.nanoTime()
    var rounds = 0
    while (rounds < (if (traceMode) 2 else 1) || System.nanoTime() - windowFrom < seconds * 1e9) {
      val on = traceMode && rounds % 2 == 1
      tracer.active = on
      val t0 = System.nanoTime()
      val out = Seq.fill(round)(step)
      if (on) { traced ++= out; tracedRounds += ((t0, System.nanoTime())) } else plain ++= out
      rounds += 1
    }
    tracer.active = traceMode
    (plain.result(), traced.result())
  }

  /** Live heap after a full collection, in MB. The first collection lets
    * Spark's cleaner drop blocks of broadcasts and shuffles nothing
    * references any more; the second reclaims them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Storage memory (memory + disk) held by cached Spark data, in MB. */
  def cacheMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      s"<${Workloads.Names.mkString("|")}> --seed <n> --seconds <s> --trace <0|1> --work <dir> --build <id> [--prepare 1]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.Names.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val prepare = opts.get("prepare").contains("1")
    val trace = opt("trace") match { case "0" => false; case "1" => true; case t => usage(s"bad --trace $t") }
    val root = new File(opt("work")).getAbsoluteFile
    val runRoot = new File(root, "run").getAbsolutePath
    deleteTree(Paths.get(runRoot))
    Files.createDirectories(Paths.get(runRoot))
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runRoot/spark-local")
      .config("spark.sql.warehouse.dir", s"$runRoot/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runRoot/hadoop-tmp")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // bounded status-store history, so the live heap does not grow with
      // the number of operations a run happens to complete
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val writes = new WriteCounter
    spark.sparkContext.addSparkListener(writes)
    val report = new Report
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, runRoot, new File(root, "cache").getPath, opt("build"), seed, seconds,
      tracer, nproc, report, writes)
    println(s"perfbench workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"nproc=$nproc spark=${spark.version}")
    val code =
      try {
        if (prepare) { Workloads.prepare(workload, ctx); 0 }
        else {
          Workloads.run(workload, ctx)
          if (trace) Files.write(Paths.get(root.getPath, s"trace-$workload-$seed.json"),
            tracer.trace().json.getBytes("UTF-8"))
          report.failures.foreach(f => println(s"MISMATCH $f"))
          report.table.foreach { case (n, v, u, note) =>
            println(f"metric $n%-34s ${Report.num(v)}%16s $u%-8s $note")
          }
          println(f"metric ${"failed_share"}%-34s ${Report.num(report.failed.toDouble / report.attempted)}%16s ${"share"}%-8s " +
            s"(${report.failed} of ${report.attempted} checked operations)")
          if (trace) report.perLayer.foreach { case (n, (v, u)) =>
            println(f"layer $n%-35s ${Report.num(v)}%16s $u")
          }
          println(report.json(trace))
          if (report.correct) 0 else 1
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally {
        spark.stop()
        deleteTree(Paths.get(runRoot))
      }
    sys.exit(code)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of the data files under `dir` (checksum and marker files excluded). */
  def dataBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }
}
