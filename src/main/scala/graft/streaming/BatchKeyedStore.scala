package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sources.FsUtil

/** A store that a stream grows one micro-batch at a time: `dir/seed/`
  * holds the history the stream starts from, and `dir/b<N>/` holds what
  * micro-batch N committed. Every streaming pipeline that keeps state
  * across batches (the digest, band, paragraph-hash and fingerprint
  * stores, the card cube's deltas) keeps it here.
  *
  * Exactly-once rule, the one every such pipeline relies on:
  *  - batch N reads the store AS OF N ([[asOf]]): the seed plus every
  *    commit with a LOWER batch id. A re-delivered batch therefore sees
  *    exactly the store its original run saw; in particular it never
  *    dedups against its own earlier commit or a later batch's;
  *  - batch N's commit overwrites `b<N>/` ([[commit]]), so a replay
  *    rewrites its commit instead of doubling it.
  * The end-of-stream finish reads `asOf(Long.MaxValue)`.
  *
  * Reads carry `schema` explicitly, so no store read runs a Spark job
  * to infer it: a read lists its dirs on the driver and plans, nothing
  * more. */
final case class BatchKeyedStore(dir: String, schema: StructType) {

  /** Write the history the stream starts from (may be empty). */
  def seed(df: DataFrame): Unit = {
    require(df.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType),
      s"seed of $dir has schema ${df.schema.simpleString}, store expects ${schema.simpleString}")
    df.write.mode("overwrite").parquet(s"$dir/seed")
  }

  /** The seed plus every commit with id < `batchId`. */
  def asOf(batchId: Long): DataFrame = {
    heal()
    read(batchIds.filter(_ < batchId))
  }

  /** Batch `batchId`'s commit; a replay overwrites it. */
  def commit(batchId: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/b$batchId")

  /** Fold the commits with id <= `through` into the seed — the store's
    * compaction. Without it the store is seed + one directory per
    * micro-batch forever, and every read unions an ever-growing dir
    * list. Merging them into the seed (distinct, one write, then retire
    * the batch dirs) keeps the list bounded by compaction cadence.
    *
    * FINALIZATION CONTRACT: only compact batches that can no longer
    * replay (their offsets are committed in the stream's checkpoint) —
    * a replayed batch must see the store AS OF its original run, and
    * compaction folds later rows into the seed where an earlier replay
    * would wrongly read them. The caller owns that horizon, exactly
    * like a lake vacuum owns its retention window. Returns the number
    * of batch dirs retired. */
  def compact(through: Long): Long = {
    heal()
    val ids = batchIds.filter(_ <= through)
    if (ids.isEmpty) return 0L
    val staging = s"$dir/.seed_next"
    read(ids).distinct().coalesce(1).write.mode("overwrite").parquet(staging)
    // swap by METADATA renames, never an rm of live data: the only
    // crash window with no seed dir is between the two renames, and
    // heal (run before every read) completes the swap from the
    // surviving .seed_next. The old seed is deleted LAST.
    val seed = new File(s"$dir/seed")
    val old = new File(s"$dir/.seed_old")
    FsUtil.deleteRecursively(old)
    require(seed.renameTo(old), s"store compaction: could not set aside $seed")
    require(new File(staging).renameTo(seed), s"store compaction swap failed in $dir")
    ids.foreach(i => FsUtil.deleteRecursively(new File(s"$dir/b$i")))
    FsUtil.deleteRecursively(old)
    ids.size.toLong
  }

  private def read(ids: Seq[Long]): DataFrame =
    SparkSession.active.read.schema(schema)
      .parquet(s"$dir/seed" +: ids.map(i => s"$dir/b$i"): _*)

  private def batchIds: Seq[Long] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("b"))
      .flatMap(f => scala.util.Try(f.getName.drop(1).toLong).toOption)
      .sorted

  /** Crash recovery for [[compact]]'s two-rename swap: if a crash landed
    * between renaming the old seed aside and renaming the new one in,
    * the completed `.seed_next` is the truth — finish the swap. */
  private def heal(): Unit = {
    val seed = new File(s"$dir/seed")
    val next = new File(s"$dir/.seed_next")
    if (!seed.exists() && next.exists())
      require(next.renameTo(seed), s"store heal failed in $dir")
    FsUtil.deleteRecursively(new File(s"$dir/.seed_old"))
  }
}
