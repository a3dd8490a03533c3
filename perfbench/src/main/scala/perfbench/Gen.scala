package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** splitmix64. Fixed here rather than taken from the JDK so that the same
  * seed gives the same bytes on every JVM. */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    Rng.mix(state)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
  }
}

object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** An independent stream per (seed, purpose, index), so files can be
    * generated on any number of threads and still come out the same. */
  def stream(seed: Long, purpose: Long, index: Long = 0L): Rng =
    new Rng(mix(mix(seed * 0x100000001B3L + purpose) + index))
}

/** A vocabulary of distinct lowercase pseudo-words, ranked by frequency
  * with a Zipf law. Word `i` is `i` written in base 85 with syllables
  * for digits, so words are distinct by construction. */
final class Vocab(val size: Int, exponent: Double) {
  private val cons = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"
  val words: Array[String] = Array.tabulate(size) { i =>
    val b = new StringBuilder
    var x = i
    var digits = 0
    while (digits < 2 || x > 0) {
      val d = x % 85
      b += cons(d / 5); b += vowels(d % 5)
      x /= 85; digits += 1
    }
    b.toString
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, exponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, size - 1)
  }
}

object Gen {
  /** Writes each group of rows as ONE parquet file at its own path, all
    * in one Spark job. Spark names part files with a random id, so each
    * part is moved to its fixed name and the write's side files dropped.
    * Rows keep their order (sorted by position after the shuffle), so the
    * same rows give the same bytes. */
  def writeParquetFiles(spark: SparkSession, files: Seq[(Path, Seq[Row])], schema: StructType): Unit = {
    import org.apache.spark.sql.functions.col
    val tmp = files.head._1.resolveSibling(".parquet-staging")
    val tagged = files.zipWithIndex.flatMap { case ((_, rows), f) =>
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ f :+ i) }
    }
    val taggedSchema = schema.add("__f", IntegerType).add("__i", IntegerType)
    spark.createDataFrame(tagged.asJava, taggedSchema)
      .repartition(files.size, col("__f")).sortWithinPartitions("__f", "__i").drop("__i")
      .write.mode("overwrite").partitionBy("__f").parquet(tmp.toString)
    files.zipWithIndex.foreach { case ((dest, _), f) =>
      val parts = Fs.files(tmp.resolve(s"__f=$f")).filter(_.toString.endsWith(".parquet"))
      require(parts.size == 1, s"expected one part file for $dest, found ${parts.size}")
      Files.createDirectories(dest.getParent)
      Files.move(parts.head, dest)
    }
    Fs.delete(tmp)
  }

  // ---------------------------------------------------------------- text

  final case class TextCorpus(dir: Path, files: Int, bytes: Long, lines: Long,
                              tokens: Long, vocab: Vocab, counts: Array[Long]) {
    def distinctWords: Int = counts.count(_ > 0)
  }

  private val punctAfter = Array(".", ",", ";", ":", "!", "?", "\"", ")", "'", "...")
  private val punctBefore = Array("(", "\"", "'", "[")
  private val junk = Array("--", "...", "&", "*", "#")

  /** One token of the word-count corpus plus its case and punctuation
    * noise. Noise never changes the cleaned word: lowercasing and
    * stripping C `ispunct` characters gives back the vocabulary word. */
  private def noisyToken(w: String, r: Rng): String = {
    val u = r.nextDouble()
    val cased =
      if (u < 0.08) w.capitalize
      else if (u < 0.10) w.toUpperCase(java.util.Locale.ROOT)
      else w
    val v = r.nextDouble()
    if (v < 0.10) cased + punctAfter(r.nextInt(punctAfter.length))
    else if (v < 0.13) punctBefore(r.nextInt(punctBefore.length)) + cased
    else if (v < 0.15 && cased.length > 3) cased.substring(0, 2) + "'" + cased.substring(2)
    else if (v < 0.16) cased.substring(0, 1) + "-" + cased.substring(1)
    else cased
  }

  /** `files` plain-text files of Zipf words with noise, about
    * `totalBytes` in all. File sizes vary from half to one and a half
    * times the mean. Exact expected word counts come back with it. */
  def textCorpus(seed: Long, dir: Path, files: Int, totalBytes: Long, vocabSize: Int,
                 threads: Int): TextCorpus = {
    val vocab = new Vocab(vocabSize, 1.0)
    Files.createDirectories(dir)
    val sizes = {
      val r = Rng.stream(seed, 1)
      val raw = Array.fill(files)(0.5 + r.nextDouble())
      val s = raw.sum
      raw.map(x => (x / s * totalBytes).toLong)
    }
    final case class Part(bytes: Long, lines: Long, tokens: Long, counts: Array[Long])
    def one(f: Int): Part = {
      val r = Rng.stream(seed, 2, f)
      val counts = new Array[Long](vocabSize)
      val sb = new java.lang.StringBuilder
      var lines = 0L
      var tokens = 0L
      while (sb.length < sizes(f)) {
        val n = 4 + r.nextInt(16)
        var t = 0
        while (t < n) {
          if (t > 0) sb.append(if (r.nextDouble() < 0.03) "  " else if (r.nextDouble() < 0.02) "\t" else " ")
          if (r.nextDouble() < 0.01) sb.append(junk(r.nextInt(junk.length)))
          else {
            val w = vocab.sample(r)
            counts(w) += 1
            tokens += 1
            sb.append(noisyToken(vocab.words(w), r))
          }
          t += 1
        }
        sb.append('\n')
        lines += 1
      }
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(dir.resolve(f"part_$f%03d.txt"), bytes)
      Part(bytes.length.toLong, lines, tokens, counts)
    }
    val parts = Par.map(0 until files, threads)(one)
    val counts = new Array[Long](vocabSize)
    parts.foreach(p => { var i = 0; while (i < vocabSize) { counts(i) += p.counts(i); i += 1 } })
    TextCorpus(dir, files, parts.map(_.bytes).sum, parts.map(_.lines).sum,
      parts.map(_.tokens).sum, vocab, counts)
  }

  // ---------------------------------------------------------------- dedup

  /** kind: 0 = fresh document, 1 = exact duplicate of `source`,
    * 2 = near duplicate of `source` (a few whitespace tokens replaced). */
  final case class Doc(id: Long, lang: String, text: String, kind: Int, source: Long)

  final case class DocStream(seedDocs: IndexedSeq[Doc], batches: IndexedSeq[IndexedSeq[Doc]],
                             seedFile: Path, streamDir: Path, bytes: Long) {
    def offered: IndexedSeq[Doc] = batches.flatten
    /** The stream cut after its first `n` files. */
    def take(n: Int): DocStream = copy(batches = batches.take(n))
    def planted(kind: Int): Int = offered.count(_.kind == kind)
  }

  val langs: Seq[String] = Seq("de", "en", "es", "fr")
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType), StructField("text", StringType)))

  /** A seed corpus plus `nBatches` stream files of `batchDocs` documents
    * each. Every stream slot is, at fixed rates, an exact duplicate or a
    * near duplicate of an original document (seed or earlier batch), or
    * a fresh document. Ids grow through the stream, so every duplicate
    * has a higher id than its source. Files carry increasing modification
    * times so a file source reads them in order, one per trigger. */
  def docStream(spark: SparkSession, seed: Long, dir: Path, seedDocsN: Int, nBatches: Int,
                batchDocs: Int, vocabSize: Int, exactRate: Double, nearRate: Double,
                nearEdits: Int): DocStream = {
    val vocab = new Vocab(vocabSize, 1.0)
    val r = Rng.stream(seed, 3)
    def freshTokens(): Array[String] = Array.fill(40 + r.nextInt(81))(vocab.words(vocab.sample(r)))
    def lang(): String = langs(r.nextInt(langs.size))
    val seedDocs = (0 until seedDocsN).map(i =>
      Doc(i + 1L, lang(), freshTokens().mkString(" "), 0, 0L))
    val originals = ArrayBuffer[Doc](seedDocs: _*)
    var nextId = 1000000L
    val batches = (0 until nBatches).map { _ =>
      val batch = (0 until batchDocs).map { _ =>
        val u = r.nextDouble()
        nextId += 1
        if (u < exactRate) {
          val src = originals(r.nextInt(originals.size))
          Doc(nextId, src.lang, src.text, 1, src.id)
        } else if (u < exactRate + nearRate) {
          val src = originals(r.nextInt(originals.size))
          val toks = src.text.split(' ')
          (0 until nearEdits).foreach(_ => toks(r.nextInt(toks.length)) = vocab.words(vocab.sample(r)))
          val text = toks.mkString(" ")
          if (text == src.text) Doc(nextId, src.lang, text, 1, src.id)
          else Doc(nextId, src.lang, text, 2, src.id)
        } else Doc(nextId, lang(), freshTokens().mkString(" "), 0, 0L)
      }
      // sources come from earlier batches only
      originals ++= batch.filter(_.kind == 0)
      batch
    }
    def rows(ds: Seq[Doc]) = ds.map(d => Row(d.id, d.lang, d.text))
    val seedFile = dir.resolve("seed_docs.parquet")
    val streamDir = dir.resolve("stream")
    val streamFiles = batches.indices.map(i => streamDir.resolve(f"batch_$i%04d.parquet"))
    writeParquetFiles(spark, (seedFile -> rows(seedDocs)) +: streamFiles.zip(batches.map(rows)), docSchema)
    streamFiles.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(1600000000000L + i * 1000L))
    }
    val bytes = Files.size(seedFile) + Fs.files(streamDir).map(Files.size).sum
    DocStream(seedDocs, batches, seedFile, streamDir, bytes)
  }

  // ---------------------------------------------------------------- vectors

  final case class Vectors(corpusFile: Path, queryFiles: IndexedSeq[Path], corpus: Array[Array[Float]],
                           queries: IndexedSeq[Array[(Long, Array[Float])]], bytes: Long)

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Unit vectors from a Gaussian mixture: `clusters` random centres, each
    * point a centre plus isotropic noise, normalized. Corpus ids are
    * 0 until n; the held-out queries continue the ids after n, in
    * `nBatches` files of `batchQueries` each. */
  def vectors(spark: SparkSession, seed: Long, dir: Path, n: Int, dim: Int, clusters: Int,
              noise: Double, nBatches: Int, batchQueries: Int): Vectors = {
    val r = Rng.stream(seed, 4)
    val centres = Array.fill(clusters)(Array.fill(dim)(r.gaussian()))
    def point(): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      val v = Array.tabulate(dim)(j => c(j) / math.sqrt(dim.toDouble) + noise * r.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val corpus = Array.fill(n)(point())
    val queries = (0 until nBatches).map(b =>
      Array.tabulate(batchQueries)(i => ((n + b * batchQueries + i).toLong, point())))
    def rows(vs: Seq[(Long, Array[Float])]) = vs.map { case (id, v) => Row(id, v.toSeq) }
    val corpusFile = dir.resolve("corpus.parquet")
    val queryFiles = queries.indices.map(b => dir.resolve("queries").resolve(f"batch_$b%03d.parquet"))
    writeParquetFiles(spark, (corpusFile -> rows(corpus.indices.map(i => (i.toLong, corpus(i))))) +:
      queryFiles.zip(queries.map(q => rows(q.toSeq))), vecSchema)
    Vectors(corpusFile, queryFiles, corpus, queries, Files.size(corpusFile) + queryFiles.map(Files.size).sum)
  }
}

/** Deterministic parallel map over at most `threads` threads. */
object Par {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      futures.map(_.get()).toIndexedSeq
    } finally pool.shutdown()
  }
}

object Fs {
  def files(dir: Path): List[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sortBy(_.toString)
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    } finally s.close()
  }

  /** Files and bytes under `dir`, data files only (no checksums or markers). */
  def dataFiles(dir: Path): (Int, Long) = {
    val fs = files(dir).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }
    (fs.size, fs.map(Files.size).sum)
  }
}
