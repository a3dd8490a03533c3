package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.BatchKeyedStore

/** The streaming pipelines' one store protocol: AS-OF reads, batch-keyed
  * overwrites, crash healing of the compaction swap, and reads that run
  * no Spark job. */
class BatchKeyedStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): BatchKeyedStore = BatchKeyedStore(
    Files.createTempDirectory("graft-bks").toString, StructType(Seq(StructField("k", LongType))))
  private def rows(ks: Long*): DataFrame = ks.toDF("k")
  private def keys(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  test("asOf(n) sees the seed and the commits below n only; a re-commit of n overwrites") {
    val store = fresh()
    store.seed(rows(1L))
    store.commit(0L, rows(10L))
    store.commit(1L, rows(11L))
    store.commit(2L, rows(12L))
    assert(keys(store.asOf(0L)) === Seq(1L))
    assert(keys(store.asOf(2L)) === Seq(1L, 10L, 11L))
    assert(keys(store.asOf(Long.MaxValue)) === Seq(1L, 10L, 11L, 12L))
    // a replayed batch 1 commits again: it replaces, never adds
    store.commit(1L, rows(21L, 22L))
    assert(keys(store.asOf(1L)) === Seq(1L, 10L))
    assert(keys(store.asOf(2L)) === Seq(1L, 10L, 21L, 22L))
  }

  test("a store left with .seed_next and no seed heals on read") {
    val store = fresh()
    store.seed(rows(1L))
    store.commit(0L, rows(10L))
    store.commit(1L, rows(11L))
    // the crash window of compact(0): the merged seed is staged and the
    // old seed set aside, but the new one was never renamed in
    rows(1L, 10L).write.parquet(s"${store.dir}/.seed_next")
    assert(new File(s"${store.dir}/seed").renameTo(new File(s"${store.dir}/.seed_old")))
    // b0 is not retired yet, so its rows read twice until compaction reruns
    assert(keys(store.asOf(1L)).distinct === Seq(1L, 10L))
    assert(new File(s"${store.dir}/seed").isDirectory)
    assert(!new File(s"${store.dir}/.seed_next").exists())
    assert(!new File(s"${store.dir}/.seed_old").exists())
    assert(store.compact(0L) === 1L)
    assert(keys(store.asOf(2L)) === Seq(1L, 10L, 11L))
  }

  test("asOf runs zero Spark jobs: the explicit schema skips inference") {
    val store = fresh()
    store.seed(rows(1L))
    store.commit(0L, rows(2L))
    store.commit(1L, rows(3L))
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    // jobs started by `body`: a marker job runs after it, and the
    // listener bus delivers job starts in order
    def jobsIn(body: => Unit): Int = {
      val marker = s"bks-marker-${System.nanoTime()}"
      started.clear()
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.contains(marker), "the listener never saw the marker job")
      started.toArray.map(_.toString).takeWhile(_ != marker).length
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobsIn(()) // drain job starts from before this test
      var asOf: DataFrame = null
      assert(jobsIn { asOf = store.asOf(2L) } === 0)
      // the same dirs read with inference do run a job: the listener sees it
      assert(jobsIn {
        spark.read.parquet(Seq("seed", "b0", "b1").map(d => s"${store.dir}/$d"): _*)
      } >= 1)
      assert(keys(asOf) === Seq(1L, 2L, 3L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
