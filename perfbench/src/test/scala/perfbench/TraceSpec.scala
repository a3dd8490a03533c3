package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, name: String, s: Long, e: Long, parent: Int, depth: Int) =
    Span(id, name, s, e, parent, depth, 0)

  test("self times of nested spans are durations minus children") {
    val spans = Seq(
      span(0, "job", 0, 100, -1, 0),
      span(1, "sources.read", 10, 30, 0, 1),
      span(2, "exec.action", 15, 25, 1, 2),
      span(3, "sources.sink", 40, 90, 0, 1),
      span(4, "exec.action", 50, 80, 3, 2))
    assert(Trace.selfTimes(spans) == Map("job" -> 30L, "sources" -> 30L, "exec" -> 40L))
  }

  test("overlapping listener spans still add up to the root duration") {
    val spans = Seq(
      span(0, "job", 0, 100, -1, 0),
      span(1, "operators.call", 0, 60, 0, 1),
      span(2, "exec.action", 5, 40, 1, 2),
      span(3, "exec.action", 30, 55, 1, 2),
      span(4, "plans.plan", 50, 70, 0, 1))
    val self = Trace.selfTimes(spans)
    assert(self.values.sum == 100L)
    assert(self("exec") == 50L)
  }

  test("attach clips a listener interval to the deepest span holding its start") {
    val tr = new Tracer
    val base = Seq(span(0, "job", 0, 100, -1, 0), span(1, "sources.sink", 20, 60, 0, 1))
    base.foreach(tr.add)
    val a = Trace.attach(tr, base, "exec.action", 30, 80).get
    assert(a.parent == 1 && a.start == 30 && a.end == 60 && a.depth == 2)
    assert(Trace.attach(tr, base, "exec.action", 150, 180).isEmpty)
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
  }

  test("a traced word-count job: self times account for the job's wall time") {
    val spark = TestSession.spark
    val dir = Files.createTempDirectory("perfbench-trace")
    val corpus = Gen.textCorpus(1, dir.resolve("corpus"), 8, 20000, 2000, 2)
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val tr = new Tracer
    tr.enabled = true
    val out = dir.resolve("out")
    val t0 = System.nanoTime()
    tr.root("job", 1) {
      import org.apache.spark.sql.functions.col
      val lines = tr.span("sources.read")(graft.sources.TextCorpus.readLines(spark, corpus.dir.toString))
      val counts = tr.span("operators.call")(graft.operators.TextOps.wordCount(lines.select(col("value").as("text"))))
      tr.span("sources.sink")(graft.sources.Sinks.partitionedSortedText(counts, "word", 2, out.toString,
        graft.sources.Sinks.referenceLineFormat()))
    }
    val wall = System.nanoTime() - t0
    assert(Checks.wordCount(out, corpus.vocab, corpus.counts, 2).isEmpty)
    // wait until the listener bus delivered the job ends
    val deadline = System.currentTimeMillis() + 10000
    while (exec.jobs.exists(j => j.end == j.start) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val base = tr.spans.toSeq
    val root = base.find(_.parent < 0).get
    val jobs = exec.jobs.filter(j => j.start * 1000000L >= root.start - 2000000L && j.start * 1000000L <= root.end)
    assert(jobs.nonEmpty)
    jobs.foreach(j => Trace.attach(tr, base, "exec.action", j.start * 1000000L, j.end * 1000000L))
    val self = Trace.selfTimes(tr.spans.toSeq)
    assert(self.values.sum == root.dur)
    assert(math.abs(root.dur - wall) < 1000000L, s"root span ${root.dur} ns vs wall $wall ns")
    assert(self.getOrElse("exec", 0L) > 0 && self.getOrElse("sources", 0L) > 0)
    spark.sparkContext.removeSparkListener(exec)
    Fs.delete(dir)
  }
}
