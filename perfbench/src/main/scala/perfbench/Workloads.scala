package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.{Sinks, TextCorpus}
import graft.streaming.IngestPipeline

/** One job as the client saw it. `root` is the job's root span when the
  * job was traced. `sinkFiles` counts the files the job wrote. */
final case class JobRun(wallNs: Long, error: Option[String], traced: Boolean, root: Option[Span],
                        sinkFiles: Int = 0, extra: Map[String, Double] = Map.empty)

/** A workload: inputs staged once per run, optional timed set-up per
  * session, and units of work. A unit is one job, except on the
  * streaming workload where it is one drain of several micro-batches. */
trait Workload {
  /** Generates the inputs. Not timed. */
  def stage(spark: SparkSession, seed: Long, dir: Path, cores: Int): Unit
  /** How many times a run sets up; `setup_s` is the median. */
  def setups: Int = 5
  /** Units run after the set-ups and before the measured window, so the
    * JIT has compiled the job's hot paths before timing starts. */
  def warmups: Int = 3
  /** Set-up a user pays once per session beyond building it. Timed. */
  def setup(spark: SparkSession): Unit = ()
  def unit(spark: SparkSession, tr: Tracer, index: Int, traced: Boolean): Seq[JobRun]
  /** Input sizes for the result record. */
  def inputs: Map[String, Any]
  /** Work done by one job, for throughput. */
  def jobMb: Double
  def jobItems: Double
  /** Quality of the answers over the run, 1 for exact workloads. */
  def recall: Double
  def extraDetail: Map[String, Any] = Map.empty

  protected def timed(tr: Tracer, index: Int, traced: Boolean)(body: => Option[String]): (Long, Option[String], Option[Span]) = {
    tr.enabled = traced
    val before = tr.spans.size
    val t0 = System.nanoTime()
    val err = try tr.root("job", index)(body) catch {
      case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    val wall = System.nanoTime() - t0
    tr.enabled = false
    (wall, err, tr.spans.drop(before).find(_.parent < 0))
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "wordcount_text" => new WordCountText
    case "dedup_stream" => new DedupStream
    case "vector_search" => new VectorSearch
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The paper's query: read a directory of text files, count words, write
  * one sorted part file per core. */
final class WordCountText extends Workload {
  val files = 128
  val totalBytes: Long = 2L << 20
  val vocabSize = 200000
  private var corpus: Gen.TextCorpus = _
  private var out: Path = _
  private var cores = 1

  def stage(spark: SparkSession, seed: Long, dir: Path, cores: Int): Unit = {
    this.cores = cores
    corpus = Gen.textCorpus(seed, dir.resolve("corpus"), files, totalBytes, vocabSize, cores)
    out = dir.resolve("out")
  }

  def unit(spark: SparkSession, tr: Tracer, index: Int, traced: Boolean): Seq[JobRun] = {
    val (wall, err, root) = timed(tr, index, traced) {
      val lines = tr.span("sources.read")(TextCorpus.readLines(spark, corpus.dir.toString))
      val counts = tr.span("operators.call")(TextOps.wordCount(lines.select(col("value").as("text"))))
      tr.span("sources.sink")(Sinks.partitionedSortedText(counts, "word", cores, out.toString,
        Sinks.referenceLineFormat()))
      None
    }
    val checked = err.orElse(Checks.wordCount(out, corpus.vocab, corpus.counts, cores))
    Seq(JobRun(wall, checked, traced, root, sinkFiles = Fs.dataFiles(out)._1))
  }

  def inputs: Map[String, Any] = Json.obj("files" -> corpus.files, "bytes" -> corpus.bytes,
    "lines" -> corpus.lines, "tokens" -> corpus.tokens, "vocab" -> vocabSize,
    "distinct_words" -> corpus.distinctWords)
  def jobMb: Double = corpus.bytes / 1e6
  def jobItems: Double = corpus.lines.toDouble
  def recall: Double = 1.0
}

/** Streaming near-duplicate ingest over pre-staged parquet files, one
  * file per micro-batch. A unit is one drain of the whole stream against
  * fresh copies of the seeded digest and band stores, so every drain
  * does the same work. */
final class DedupStream extends Workload {
  /** Files in the stream: one drain takes about eight seconds. */
  val batches = 4
  val batchDocs = 300
  val seedDocs = 1500
  val vocabSize = 50000
  val exactRate = 0.10
  val nearRate = 0.10
  val nearEdits = 3
  val targetRowsPerFile = 2000L
  /** Each drain's first micro-batch starts the query and is left out of
    * the job times, so a drain warms itself up. */
  override def warmups: Int = 0
  private var stream: Gen.DocStream = _
  private var dir: Path = _
  private var stores: Path = _
  private val verdicts = ArrayBuffer[Checks.DedupVerdict]()
  private val storeSizes = ArrayBuffer[(Int, Long, Boolean)]()
  /** Per drain (unit index): its interval in epoch ns and its wall time. */
  val drainSpans = scala.collection.mutable.Map[Int, (Long, Long)]()
  val drainWalls = scala.collection.mutable.Map[Int, Long]()

  def stage(spark: SparkSession, seed: Long, dir: Path, cores: Int): Unit = {
    this.dir = dir
    stream = Gen.docStream(spark, seed, dir.resolve("inputs"), seedDocs, batches, batchDocs,
      vocabSize, exactRate, nearRate, nearEdits)
    // the stores as the prior corpus left them: its digests and band keys
    stores = dir.resolve("stores")
    val prior = spark.read.parquet(stream.seedFile.toString)
    prior.select(org.apache.spark.sql.functions.sha2(col("text"), 256).as("h"))
      .write.parquet(stores.resolve("digests/seed").toString)
    Dedup.bandKeys(prior).select(col("band"), col("bh"))
      .write.parquet(stores.resolve("bands/seed").toString)
  }

  private def rates(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gen.langs.map(l => (l, 1000)).toDF("lang", "keep_permille")
  }

  /** The stream a unit drains, and its file count. The cold unit drains
    * the first file alone: its one micro-batch is the cold job. */
  private def streamFor(index: Int): (Path, Int) =
    if (index > 0) (stream.streamDir, batches)
    else {
      val first = Fs.files(stream.streamDir).head
      val one = dir.resolve("cold_stream").resolve(first.getFileName.toString)
      if (!Files.exists(one)) {
        Files.createDirectories(one.getParent)
        Files.copy(first, one, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
      (one.getParent, 1)
    }

  def unit(spark: SparkSession, tr: Tracer, index: Int, traced: Boolean): Seq[JobRun] = {
    val run = dir.resolve(s"drain_$index")
    Fs.copyTree(stores, run)
    val out = run.resolve("landing")
    val (src, files) = streamFor(index)
    val start = Clock.now()
    val t0 = System.nanoTime()
    val err = try {
      IngestPipeline.runIngest(spark, src.toString, run.resolve("digests").toString,
        rates(spark), out.toString, targetRowsPerFile, bandStoreDir = Some(run.resolve("bands").toString))
      None
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    drainWalls(index) = System.nanoTime() - t0
    drainSpans(index) = (start, Clock.now())
    val verdict = err.map(e => Checks.DedupVerdict((0 until files).map(_ -> e).toMap, 0, 0, 0, 0, 0))
      .getOrElse(Checks.dedup(stream.take(files), landed(spark, out)))
    verdicts += verdict
    val (sf, sb) = Seq("digests", "bands").map(s => Fs.dataFiles(run.resolve(s)))
      .foldLeft((0, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    storeSizes += ((sf, sb, traced))
    val sinkFiles = (0 until files).map { b =>
      Seq(out.resolve(s"batch_id=$b"), run.resolve(s"digests/b$b"), run.resolve(s"bands/b$b"))
        .map(p => Fs.dataFiles(p)._1).sum
    }
    Fs.delete(run)
    // per-batch times come from the streaming listener after the run
    (0 until files).map(b => JobRun(0L, verdict.badBatches.get(b), traced, None,
      sinkFiles(b), Map("batch" -> b.toDouble, "drain" -> index.toDouble)))
  }

  private def landed(spark: SparkSession, out: Path): Seq[Checks.Chunk] =
    spark.read.parquet(out.toString).collect().toSeq.map { r =>
      Checks.Chunk(r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk"), r.getAs[Int]("batch_id"))
    }

  def inputs: Map[String, Any] = Json.obj("files" -> batches, "bytes" -> stream.bytes,
    "docs" -> stream.offered.size, "docs_per_batch" -> batchDocs, "seed_docs" -> seedDocs,
    "vocab" -> vocabSize, "planted_exact" -> stream.planted(1), "planted_near" -> stream.planted(2),
    "text_bytes" -> stream.offered.map(_.text.length.toLong).sum)
  def jobMb: Double = stream.offered.map(_.text.length.toLong).sum / 1e6 / batches
  def jobItems: Double = batchDocs.toDouble
  def recall: Double = {
    val kept = verdicts.map(_.nearKept).sum
    val planted = verdicts.map(_.nearPlanted).sum
    if (planted == 0) 1.0 else kept.toDouble / planted
  }
  /** Store files and bytes after each drain, and whether it was traced. */
  def storeAtEnd: Seq[(Int, Long, Boolean)] = storeSizes.toSeq
  override def extraDetail: Map[String, Any] = Json.obj(
    "near_dup_recall" -> recall,
    "fresh_kept_frac" -> {
      val o = verdicts.map(_.freshOffered).sum
      if (o == 0) 1.0 else verdicts.map(_.freshLanded).sum.toDouble / o
    })
}

/** IVF×PQ similarity search: the index is built, persisted and reloaded
  * at set-up; each job answers one batch of held-out queries. */
final class VectorSearch extends Workload {
  val n = 3000
  val dim = 64
  val clusters = 32
  val noise = 0.06
  val queryBatches = 8
  val batchQueries = 32
  val k = 10
  /** Each set-up builds the index, which takes seconds: fewer of them. */
  override def setups: Int = 3
  override def warmups: Int = 2
  private var vecs: Gen.Vectors = _
  private var exact: Map[Long, Array[Int]] = _
  private var indexDir: Path = _
  private var index: Similarity.IvfPqIndex = _
  private var corpusDf: DataFrame = _
  private var found = 0L
  private var asked = 0L

  def stage(spark: SparkSession, seed: Long, dir: Path, cores: Int): Unit = {
    vecs = Gen.vectors(spark, seed, dir.resolve("inputs"), n, dim, clusters, noise, queryBatches, batchQueries)
    exact = Par.map(vecs.queries.flatten, cores) { case (id, q) => id -> Checks.exactTopK(vecs.corpus, q, k) }.toMap
    indexDir = dir.resolve("index")
  }

  override def setup(spark: SparkSession): Unit = {
    corpusDf = spark.read.parquet(vecs.corpusFile.toString)
    Similarity.ivfPqWrite(Similarity.ivfPqBuild(corpusDf, dim = dim), indexDir.toString)
    index = Similarity.ivfPqRead(spark, indexDir.toString, dim = dim)
  }

  def unit(spark: SparkSession, tr: Tracer, index: Int, traced: Boolean): Seq[JobRun] = {
    val b = index % queryBatches
    var hits: Seq[Checks.Hit] = Nil
    val (wall, err, root) = timed(tr, index, traced) {
      val queries = tr.span("sources.read")(spark.read.parquet(vecs.queryFiles(b).toString))
      val result = tr.span("operators.call")(Similarity.ivfPqQuery(this.index, queries, corpusDf, k = k))
      tr.span("plans.plan")(result.queryExecution.executedPlan)
      val rows = tr.span("exec.action")(result.collect())
      hits = rows.toSeq.map(r => Checks.Hit(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      None
    }
    val checked = err match {
      case Some(e) => Some(e)
      case None =>
        Checks.vectorBatch(hits, vecs.queries(b), vecs.corpus, exact, k) match {
          case Left(e) => Some(e)
          case Right(f) => found += f; asked += batchQueries.toLong * k; None
        }
    }
    Seq(JobRun(wall, checked, traced, root))
  }

  def inputs: Map[String, Any] = Json.obj("vectors" -> n, "dim" -> dim, "clusters" -> clusters,
    "query_batches" -> queryBatches, "queries_per_batch" -> batchQueries, "bytes" -> vecs.bytes)
  def jobMb: Double = batchQueries * dim * 4 / 1e6
  def jobItems: Double = batchQueries.toDouble
  def recall: Double = if (asked == 0) 0.0 else found.toDouble / asked
  override def extraDetail: Map[String, Any] = Json.obj("recall_at_10" -> recall)
}
