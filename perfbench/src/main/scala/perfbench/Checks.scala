package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Output checks computed without the engine: each compares what a job
  * wrote or returned with what the generator knows to be right, and
  * returns the first discrepancy found. */
object Checks {

  /** Word count: every part file holds `<word, count> ` lines sorted by
    * word, no word appears in two files, and the counts equal the ones
    * the generator kept. */
  def wordCount(outDir: Path, vocab: Vocab, expected: Array[Long], maxParts: Int): Option[String] = {
    val parts = Fs.files(outDir).filter(_.getFileName.toString.startsWith("part-"))
    if (parts.isEmpty) return Some(s"no part files in $outDir")
    if (parts.size > maxParts) return Some(s"${parts.size} part files, expected at most $maxParts")
    val got = new java.util.HashMap[String, java.lang.Long]()
    for (p <- parts) {
      var prev: String = null
      val it = new String(Files.readAllBytes(p), UTF_8).split('\n').iterator
      while (it.hasNext) {
        val line = it.next()
        if (line.nonEmpty) {
          val comma = line.lastIndexOf(", ")
          if (!line.startsWith("<") || !line.endsWith("> ") || comma < 0)
            return Some(s"malformed line '$line' in ${p.getFileName}")
          val word = line.substring(1, comma)
          val n = scala.util.Try(line.substring(comma + 2, line.length - 2).toLong).toOption
            .getOrElse(return Some(s"bad count in '$line'"))
          if (prev != null && prev.compareTo(word) >= 0)
            return Some(s"${p.getFileName} not sorted: '$prev' before '$word'")
          if (got.put(word, n) != null) return Some(s"word '$word' appears in two part files")
          prev = word
        }
      }
    }
    var distinct = 0
    var i = 0
    while (i < expected.length) {
      if (expected(i) > 0) {
        distinct += 1
        val n = got.get(vocab.words(i))
        if (n == null || n.longValue != expected(i))
          return Some(s"count of '${vocab.words(i)}' is $n, expected ${expected(i)}")
      }
      i += 1
    }
    if (got.size != distinct) Some(s"${got.size} words written, expected $distinct")
    else None
  }

  /** One landed chunk of the dedup ingest. */
  final case class Chunk(docId: Long, lang: String, idx: Long, text: String, batch: Int)

  final case class DedupVerdict(badBatches: Map[Int, String], nearKept: Int, nearPlanted: Int,
                                freshLanded: Int, freshOffered: Int, landedDocs: Int)

  /** Dedup ingest: every landed document was offered in the batch it
    * landed under, its chunks reassemble to the offered text, it lands
    * once, and no document lands whose text already appeared in the seed
    * corpus or in an earlier-id offered document. Also counts planted
    * near duplicates kept out and fresh documents admitted. */
  def dedup(stream: Gen.DocStream, landed: Seq[Chunk]): DedupVerdict = {
    val offered = stream.batches.zipWithIndex.flatMap { case (b, i) => b.map(d => d.id -> (d, i)) }.toMap
    val firstId = scala.collection.mutable.HashMap[String, Long]()
    (stream.seedDocs ++ stream.offered).foreach(d => if (!firstId.contains(d.text)) firstId(d.text) = d.id)
    val bad = scala.collection.mutable.Map[Int, String]()
    def fail(b: Int, msg: String): Unit = if (!bad.contains(b)) bad(b) = msg
    val byDoc = landed.groupBy(_.docId)
    byDoc.foreach { case (id, chunks) =>
      val b = chunks.head.batch
      offered.get(id) match {
        case None => fail(b, s"landed doc $id was never offered")
        case Some((doc, ob)) =>
          val sorted = chunks.sortBy(_.idx)
          if (chunks.exists(_.batch != ob)) fail(b, s"doc $id landed under batch $b, offered in $ob")
          else if (sorted.map(_.idx) != sorted.indices.map(_.toLong)) fail(b, s"doc $id chunk indexes ${sorted.map(_.idx)}")
          else if (sorted.map(_.text).mkString != doc.text) fail(b, s"doc $id chunks do not reassemble its text")
          else if (chunks.exists(_.lang != doc.lang)) fail(b, s"doc $id landed with the wrong lang")
          else if (firstId(doc.text) < id) fail(b, s"doc $id is an exact duplicate of doc ${firstId(doc.text)}")
      }
    }
    val landedIds = byDoc.keySet
    val offeredDocs = stream.offered
    DedupVerdict(bad.toMap,
      nearKept = offeredDocs.count(d => d.kind == 2 && !landedIds(d.id)),
      nearPlanted = offeredDocs.count(_.kind == 2),
      freshLanded = offeredDocs.count(d => d.kind == 0 && landedIds(d.id)),
      freshOffered = offeredDocs.count(_.kind == 0),
      landedDocs = landedIds.size)
  }

  /** Cosine in the engine's arithmetic: floats widened to double, summed
    * in index order. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i).toDouble * b(i).toDouble
      aa += a(i).toDouble * a(i).toDouble
      bb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Exact cosine top-k by brute force, ties broken by the lower id. */
  def exactTopK(corpus: Array[Array[Float]], q: Array[Float], k: Int): Array[Int] = {
    val sims = corpus.map(c => cosine(q, c))
    val heap = new java.util.PriorityQueue[Int](k + 1, (x: Int, y: Int) => {
      val c = java.lang.Double.compare(sims(x), sims(y))
      if (c != 0) c else Integer.compare(y, x)
    })
    sims.indices.foreach { i => heap.add(i); if (heap.size > k) heap.poll() }
    val out = new Array[Int](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }

  /** One returned neighbour: (query, rank, corpus id, rounded similarity). */
  final case class Hit(q: Long, rank: Long, c: Long, sim: Double)

  /** Vector search: each query of the batch gets ranks 1..k over distinct
    * corpus ids, in non-increasing similarity, and each reported
    * similarity is the true cosine rounded to 4 places. Returns the
    * error, or the number of true top-k neighbours found. */
  def vectorBatch(hits: Seq[Hit], queries: Array[(Long, Array[Float])], corpus: Array[Array[Float]],
                  exact: Map[Long, Array[Int]], k: Int): Either[String, Int] = {
    val byQ = hits.groupBy(_.q)
    if (byQ.keySet != queries.map(_._1).toSet)
      return Left(s"answered queries ${byQ.size}, expected ${queries.length}")
    var found = 0
    for ((qid, qv) <- queries) {
      val hs = byQ(qid).sortBy(_.rank)
      if (hs.map(_.rank) != (1 to k).map(_.toLong)) return Left(s"query $qid ranks ${hs.map(_.rank)}")
      if (hs.map(_.c).distinct.size != k) return Left(s"query $qid repeats a neighbour")
      for (h <- hs) {
        if (h.c < 0 || h.c >= corpus.length) return Left(s"query $qid returned unknown id ${h.c}")
        val truth = cosine(qv, corpus(h.c.toInt))
        if (math.abs(truth - h.sim) > 1.01e-4) return Left(s"query $qid id ${h.c}: similarity ${h.sim}, true $truth")
      }
      if (hs.sliding(2).exists(p => p.size == 2 && p(0).sim < p(1).sim))
        return Left(s"query $qid neighbours not in similarity order")
      val truthSet = exact(qid).map(_.toLong).toSet
      found += hs.count(h => truthSet(h.c))
    }
    Right(found)
  }
}
