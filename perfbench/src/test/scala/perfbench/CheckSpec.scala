package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Each checker accepts a right result and rejects deliberately corrupted
  * copies of it. */
class CheckSpec extends AnyFunSuite {

  // ------------------------------------------------------------ word count

  private val vocab = new Vocab(50, 1.0)
  private val expected = Array.tabulate(50)(i => if (i % 7 == 3) 0L else (50 - i).toLong)

  /** The sink's contract written by hand: words hashed to `parts` files,
    * each file sorted, `<word, count> ` lines. */
  private def writeParts(lines: Seq[(String, Long)], parts: Int): Path = {
    val dir = Files.createTempDirectory("perfbench-wc")
    lines.groupBy { case (w, _) => math.abs(w.hashCode) % parts }.foreach { case (p, ls) =>
      val body = ls.sortBy(_._1).map { case (w, n) => s"<$w, $n> \n" }.mkString
      Files.write(dir.resolve(f"part-$p%05d.txt"), body.getBytes(UTF_8))
    }
    dir
  }

  private def right: Seq[(String, Long)] =
    expected.indices.filter(expected(_) > 0).map(i => vocab.words(i) -> expected(i))

  test("word count: the right output passes") {
    assert(Checks.wordCount(writeParts(right, 3), vocab, expected, 4).isEmpty)
  }

  test("word count: a wrong count, a missing word or an extra word is rejected") {
    val wrong = right.map { case (w, n) => if (w == right.head._1) (w, n + 1) else (w, n) }
    assert(Checks.wordCount(writeParts(wrong, 3), vocab, expected, 4).exists(_.contains("count of")))
    assert(Checks.wordCount(writeParts(right.tail, 3), vocab, expected, 4).nonEmpty)
    assert(Checks.wordCount(writeParts(right :+ ("zzz" -> 1L), 3), vocab, expected, 4)
      .exists(_.contains("words written")))
  }

  test("word count: an unsorted part file is rejected") {
    val dir = writeParts(right, 1)
    val f = Fs.files(dir).head
    val lines = new String(Files.readAllBytes(f), UTF_8).split('\n').toSeq
    Files.write(f, (lines(1) +: lines(0) +: lines.drop(2)).mkString("", "\n", "\n").getBytes(UTF_8))
    assert(Checks.wordCount(dir, vocab, expected, 4).exists(_.contains("not sorted")))
  }

  test("word count: a word in two part files is rejected") {
    val dir = writeParts(right, 2)
    val Seq(a, b) = Fs.files(dir)
    val moved = new String(Files.readAllBytes(a), UTF_8).split('\n').head
    Files.write(b, (moved + "\n" + new String(Files.readAllBytes(b), UTF_8)).getBytes(UTF_8))
    assert(Checks.wordCount(dir, vocab, expected, 4).nonEmpty)
  }

  // ------------------------------------------------------------ dedup

  import Gen.Doc
  private val seedDocs = IndexedSeq(Doc(1, "en", "a b c d e f", 0, 0), Doc(2, "de", "g h i j k l", 0, 0))
  private val stream = Gen.DocStream(seedDocs, IndexedSeq(
    IndexedSeq(Doc(10, "en", "m n o p q r s t", 0, 0), Doc(11, "en", "a b c d e f", 1, 1),
      Doc(12, "de", "g h i j k x", 2, 2)),
    IndexedSeq(Doc(13, "fr", "u v w x y z", 0, 0), Doc(14, "en", "m n o p q r s t", 1, 10))),
    null, null, 0L)

  private def land(d: Doc, batch: Int, size: Int = 4): Seq[Checks.Chunk] =
    d.text.grouped(size).zipWithIndex.map { case (t, i) => Checks.Chunk(d.id, d.lang, i, t, batch) }.toSeq

  private val rightLanding = land(stream.batches(0)(0), 0) ++ land(stream.batches(1)(0), 1)

  test("dedup: the right landing passes and counts planted near duplicates kept out") {
    val v = Checks.dedup(stream, rightLanding)
    assert(v.badBatches.isEmpty)
    assert(v.nearKept == 1 && v.nearPlanted == 1 && v.freshLanded == 2 && v.freshOffered == 2)
  }

  test("dedup: a landed exact duplicate of the seed or of an earlier document is rejected") {
    val seedDup = Checks.dedup(stream, rightLanding ++ land(stream.batches(0)(1), 0))
    assert(seedDup.badBatches.get(0).exists(_.contains("exact duplicate")))
    val earlierDup = Checks.dedup(stream, rightLanding ++ land(stream.batches(1)(1), 1))
    assert(earlierDup.badBatches.get(1).exists(_.contains("exact duplicate")))
  }

  test("dedup: chunks that do not reassemble the text are rejected") {
    val edited = rightLanding.map(c => if (c.docId == 13 && c.idx == 1) c.copy(text = "XX") else c)
    assert(Checks.dedup(stream, edited).badBatches.get(1).exists(_.contains("reassemble")))
    val missing = rightLanding.filterNot(c => c.docId == 10 && c.idx == 0)
    assert(Checks.dedup(stream, missing).badBatches.contains(0))
  }

  test("dedup: a document never offered, or landed under another batch, is rejected") {
    assert(Checks.dedup(stream, rightLanding :+ Checks.Chunk(99, "en", 0, "zz", 0)).badBatches.contains(0))
    val moved = rightLanding.map(c => if (c.docId == 13) c.copy(batch = 0) else c)
    assert(Checks.dedup(stream, moved).badBatches.contains(0))
  }

  // ------------------------------------------------------------ vectors

  private val r = new Rng(5)
  private val corpus = Array.fill(40)(Array.fill(8)(r.gaussian().toFloat))
  private val queries = Array.tabulate(3)(i => ((100 + i).toLong, Array.fill(8)(r.gaussian().toFloat)))
  private val exact = queries.map { case (id, q) => id -> Checks.exactTopK(corpus, q, 5) }.toMap

  private def hits(top: Map[Long, Array[Int]]): Seq[Checks.Hit] = queries.toSeq.flatMap { case (id, q) =>
    top(id).zipWithIndex.map { case (c, i) =>
      Checks.Hit(id, i + 1L, c.toLong, BigDecimal(Checks.cosine(q, corpus(c))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("vector search: the exact answer passes with full recall") {
    assert(Checks.vectorBatch(hits(exact), queries, corpus, exact, 5) == Right(15))
  }

  test("vector search: an approximate answer passes with partial recall") {
    // swap each query's 5th neighbour for its 6th: still ordered, one miss per query
    val approx = queries.map { case (id, q) => id -> { val t = Checks.exactTopK(corpus, q, 6); t.take(4) :+ t(5) } }.toMap
    assert(Checks.vectorBatch(hits(approx), queries, corpus, exact, 5) == Right(12))
  }

  test("vector search: a wrong similarity, a repeated neighbour or a bad rank is rejected") {
    val h = hits(exact)
    val wrongSim = h.map(x => if (x.q == 100 && x.rank == 2) x.copy(sim = x.sim + 0.01) else x)
    assert(Checks.vectorBatch(wrongSim, queries, corpus, exact, 5).isLeft)
    val repeated = h.map(x => if (x.q == 101 && x.rank == 3) x.copy(c = h.find(y => y.q == 101 && y.rank == 2).get.c,
      sim = h.find(y => y.q == 101 && y.rank == 2).get.sim) else x)
    assert(Checks.vectorBatch(repeated, queries, corpus, exact, 5).isLeft)
    val noRank5 = h.filterNot(x => x.q == 102 && x.rank == 5)
    assert(Checks.vectorBatch(noRank5, queries, corpus, exact, 5).isLeft)
    val swapped = h.map(x => if (x.q == 100 && x.rank <= 2) x.copy(rank = 3 - x.rank) else x)
    assert(Checks.vectorBatch(swapped, queries, corpus, exact, 5).isLeft)
    assert(Checks.vectorBatch(h.filterNot(_.q == 101), queries, corpus, exact, 5).isLeft)
  }
}
