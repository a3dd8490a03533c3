package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  private def bytesOf(dir: Path): Seq[(String, Seq[Byte])] =
    Fs.files(dir).map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)

  test("same seed gives byte-identical text corpora and the same expected counts") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val x = Gen.textCorpus(7, a, 8, 40000, 5000, threads = 3)
    val y = Gen.textCorpus(7, b, 8, 40000, 5000, threads = 1)
    val z = Gen.textCorpus(8, c, 8, 40000, 5000, threads = 3)
    assert(bytesOf(a) == bytesOf(b))
    assert(x.counts.toSeq == y.counts.toSeq)
    assert(bytesOf(a) != bytesOf(c))
    assert(x.tokens == x.counts.sum)
    Seq(a, b, c).foreach(Fs.delete)
  }

  test("same seed gives byte-identical parquet inputs for the stream and vector workloads") {
    val spark = TestSession.spark
    def both(seed: Long): (Path, Gen.DocStream, Gen.Vectors) = {
      val d = tmp()
      val s = Gen.docStream(spark, seed, d.resolve("docs"), 50, 3, 40, 2000, 0.1, 0.1, 3)
      val v = Gen.vectors(spark, seed, d.resolve("vecs"), 300, 16, 4, 0.1, 2, 5)
      (d, s, v)
    }
    val (a, sa, va) = both(3)
    val (b, sb, _) = both(3)
    val (c, _, _) = both(4)
    assert(bytesOf(a) == bytesOf(b))
    assert(bytesOf(a) != bytesOf(c))
    assert(sa.offered == sb.offered)
    assert(Fs.files(sa.streamDir).map(p => Files.getLastModifiedTime(p).toMillis).sliding(2).forall(p => p(0) < p(1)))
    assert(va.corpus.length == 300 && va.queries.map(_.length) == Seq(5, 5))
    Seq(a, b, c).foreach(Fs.delete)
  }

  test("planted duplicates point at earlier originals") {
    val s = Gen.docStream(TestSession.spark, 11, tmp().resolve("docs"), 80, 4, 60, 2000, 0.2, 0.2, 3)
    val seen = scala.collection.mutable.Map[Long, Gen.Doc]() ++ s.seedDocs.map(d => d.id -> d)
    for (batch <- s.batches) {
      for (d <- batch if d.kind != 0) {
        val src = seen(d.source)
        assert(src.kind == 0 && src.id < d.id)
        if (d.kind == 1) assert(d.text == src.text) else assert(d.text != src.text)
      }
      batch.foreach(d => seen(d.id) = d)
    }
    assert(s.planted(1) > 0 && s.planted(2) > 0)
  }
}
