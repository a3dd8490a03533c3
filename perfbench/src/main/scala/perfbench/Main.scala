package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The benchmark's measuring process. One client, closed loop: the next
  * job is submitted only after the previous one returned.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cores C
  *        [--commit SHA] [--source-hash H]
  *
  * Prints a detail record and then, as the last line, the result. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
                        cores: Int, commit: String, sourceHash: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      Paths.get(need("work")).toAbsolutePath, need("cores").toInt,
      m.getOrElse("commit", "unknown"), m.getOrElse("source-hash", "unknown"))
    require(o.seconds > 0 && o.cores > 0, "seconds and cores must be positive")
    o
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's minhash and fingerprint arithmetic wraps on purpose
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Fs.delete(o.work)
    Files.createDirectories(o.work)
    HeapWatch.install()
    val w = Workload(o.workload)
    val streaming = new StreamListener

    // set-up 1, staging in between (not timed), then the cold job
    val setupTimes = ArrayBuffer[Double]()
    var t0 = System.nanoTime()
    var spark = session(o)
    val sessionNs = System.nanoTime() - t0
    val stageT0 = System.nanoTime()
    w.stage(spark, o.seed, o.work.resolve("data"), o.cores)
    val stageS = (System.nanoTime() - stageT0) / 1e9
    t0 = System.nanoTime()
    w.setup(spark)
    setupTimes += (sessionNs + System.nanoTime() - t0) / 1e9
    spark.streams.addListener(streaming)
    HeapWatch.reset()
    val tracer = new Tracer
    val cold = HeapWatch.settled(w.unit(spark, tracer, 0, traced = false))

    // further set-ups; the last session runs the warm jobs
    while (setupTimes.size < w.setups) {
      spark.stop()
      t0 = System.nanoTime()
      spark = session(o)
      w.setup(spark)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    spark.streams.addListener(streaming)
    val exec = new ExecListener
    val plans = new PlanListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
    }

    // warm-up units (checked, not timed), then warm jobs until the
    // deadline; a traced run alternates traced and untraced units so the
    // difference is the tracing overhead
    val warmup = (1 to w.warmups).flatMap(i => HeapWatch.settled(w.unit(spark, tracer, i, traced = false)))
    val warm = ArrayBuffer[JobRun]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = w.warmups + 1
    // a traced run needs at least one traced and one untraced unit
    while (System.nanoTime() < deadline || (o.trace && i <= w.warmups + 2)) {
      warm ++= HeapWatch.settled(w.unit(spark, tracer, i, traced = o.trace && (i - w.warmups) % 2 == 1))
      i += 1
    }
    spark.stop() // drains the listener bus: every event below has arrived
    Thread.sleep(100) // GC notifications arrive on their own thread
    val heapMb = HeapWatch.peak / 1e6

    val Seq(coldJobs, warmupJobs, warmJobs) = Seq(cold, warmup, warm.toSeq).map(runs => w match {
      case d: DedupStream => Report.streamJobs(d, runs, tracer, streaming)
      case _ => runs
    })
    val checked = coldJobs ++ warmupJobs ++ warmJobs
    val failed = checked.count(_.error.nonEmpty)
    val attempted = checked.size
    val errors = checked.flatMap(_.error).distinct.take(5)

    // a drain's first micro-batch (query start) is not a warm job
    val timed = warmJobs.filter(_.extra.getOrElse("batch", 1.0) > 0)
    val untracedWarm = timed.filterNot(_.traced).map(_.wallNs / 1e9)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val warmTotal = untracedWarm.sum
        val (mbPerS, itemsPerS) = w match {
          case d: DedupStream =>
            val walls = d.drainWalls.filter(_._1 > w.warmups).values.toSeq
            val secs = walls.sum / 1e9
            (w.jobMb * d.batches * walls.size / secs, w.jobItems * d.batches * walls.size / secs)
          case _ => (w.jobMb * untracedWarm.size / warmTotal, w.jobItems * untracedWarm.size / warmTotal)
        }
        Seq(
          ("setup_s", Report.median(setupTimes.toSeq), "s"),
          ("cold_job_s", coldJobs.head.wallNs / 1e9, "s"),
          ("job_s_p50", Report.median(untracedWarm), "s"),
          ("input_mb_per_s", mbPerS, "MB/s"),
          ("items_per_s", itemsPerS, "1/s"),
          ("recall", w.recall, "ratio"))
      } else Report.perLayer(w, timed, tracer, exec, plans, o.cores, untracedWarm)

    val n = untracedWarm.size
    val detail = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "env" -> Json.obj("nproc" -> o.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "commit" -> o.commit, "source_hash" -> o.sourceHash),
      "inputs" -> w.inputs,
      "stage_s" -> stageS,
      "setup_s_each" -> setupTimes.toSeq,
      "warm_jobs" -> n,
      "job_s_each" -> timed.map(_.wallNs / 1e9),
      // the highest percentile with ten warm jobs beyond it, where the
      // run holds enough jobs for one to mean anything
      "job_s_tail" -> (if (n < 20) None else Some(Json.obj("value" -> untracedWarm.sorted.apply(n - 11),
        "unit" -> "s", "percentile" -> 100.0 * (n - 10) / n, "samples" -> n))),
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      // not a bounded metric: on the stream the heap a drain leaves behind
      // depends on how far Spark's asynchronous cleanup got before the GC
      "peak_heap_mb" -> heapMb,
      "errors" -> errors,
      "workload_metrics" -> w.extraDetail)
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    val resultsDir = o.work.getParent.resolve("results")
    Files.createDirectories(resultsDir)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.write(resultsDir.resolve(s"$tag.json"), Json.render(detail + ("result" -> result)).getBytes("UTF-8"))
    if (o.trace) Report.writeSpans(resultsDir.resolve(s"$tag.spans.jsonl"), tracer)
    Fs.delete(o.work)

    println(Json.render(Json.obj("detail" -> detail)))
    println(Json.render(result))
    System.exit(if (failed == 0) 0 else 1)
  }
}
