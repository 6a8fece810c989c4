package graft.store

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{SaveMode, SparkSession}
import java.util.concurrent.atomic.AtomicLong

/** Stage-metrics capture for lineage sidecars — the "stage metrics" leg
  * of the north rule's checkpoint contract (each commit carries
  * partition ranges, triple counts AND execution metrics, so a resumed
  * or audited job can see what every batch actually cost).
  *
  * A [[SparkListener]] accumulates task-level totals (executor run time,
  * shuffle bytes read/written, input records) while a labeled block
  * runs; the totals land as one row per metric under `<root>/_metrics`,
  * keyed by the same snapshot id as the lineage rows. Capture is
  * fire-and-forget cheap (a few atomic adds per task); the listener bus
  * is asynchronous, so [[capture]] drains it after the block completes
  * (every task-end event of the block's jobs is posted before its
  * action returns, so the drained totals are exact), and it is used
  * only at commit granularity (never per row).
  */
object StageMetrics {

  case class MetricRow(stage: String, metric: String, value: Long,
                       snapshot_id: String, ts: Long)

  private class Acc extends SparkListener {
    val taskTimeMs = new AtomicLong
    val shuffleReadBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val inputRecords = new AtomicLong
    val tasks = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        tasks.incrementAndGet()
      }
    }
    def snapshot: Seq[(String, Long)] = Seq(
      "task_time_ms" -> taskTimeMs.get,
      "shuffle_read_bytes" -> shuffleReadBytes.get,
      "shuffle_write_bytes" -> shuffleWriteBytes.get,
      "input_records" -> inputRecords.get,
      "tasks" -> tasks.get)
  }

  /** Run `body` with metrics accumulation; returns (result, metrics). */
  def capture[T](spark: SparkSession)(body: => T): (T, Seq[(String, Long)]) = {
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    try {
      val r = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      (r, acc.snapshot)
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  def metricsPath(root: String) = s"$root/_metrics"

  /** Append a capture's totals for one committed stage/snapshot. */
  def write(spark: SparkSession, root: String, stage: String,
            snapshotId: String, metrics: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    spark.createDataset(metrics.map { case (m, v) =>
      MetricRow(stage, m, v, snapshotId, now)
    }).write.mode(SaveMode.Append).parquet(metricsPath(root))
  }

  def read(spark: SparkSession, root: String) = {
    import spark.implicits._
    if (!Fs.exists(spark, metricsPath(root)))
      spark.emptyDataset[MetricRow]
    else spark.read.parquet(metricsPath(root)).as[MetricRow]
  }
}
