package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}

package object streaming {

  /** Run `f` on every micro-batch of `stream` (a foreachBatch sink) until
    * the source has nothing left, then stop the query. Every streaming
    * pipeline that lands or commits per batch drains through here; the
    * batch id is the key of the exactly-once rule in [[BatchKeyedStore]]. */
  def drain(stream: DataFrame)(f: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => f(batch.toDF(), batchId) }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
