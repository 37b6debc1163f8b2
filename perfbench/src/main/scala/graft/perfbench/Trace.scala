package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task and stage counters for the `core.*` layer, counted only while
  * `on` is set (the timed window). Registered in traced runs only.
  */
final class CoreListener extends SparkListener {
  @volatile var on = false
  var tasks = 0L
  var stages = 0L
  var runMs = 0L
  var deserMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val schedDelayMs = mutable.ArrayBuffer.empty[Double]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (on && m != null) {
      val i = e.taskInfo
      tasks += 1
      runMs += m.executorRunTime
      deserMs += m.executorDeserializeTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler delay: task wall minus the parts the
      // executor accounts for
      val fetch = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      schedDelayMs += math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch).toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (on) stages += 1
  }

  def metrics(wallMs: Double, cores: Int): Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    Seq(
      "core.tasks" -> tasks.toDouble,
      "core.stages" -> stages.toDouble,
      "core.task_busy_frac" -> runMs / (wallMs * cores),
      "core.sched_delay_ms_p50" -> Stats.median(schedDelayMs.toSeq),
      "core.deser_ms_sum" -> deserMs.toDouble,
      "core.gc_frac" -> (if (runMs == 0) 0.0 else gcMs.toDouble / runMs),
      "core.shuffle_write_mb" -> shuffleWrite / mb,
      "core.shuffle_read_mb" -> shuffleRead / mb,
      "core.spill_mb" -> spill / mb)
  }
}

/** Every micro-batch's `durationMs` map and input row count, keyed by
  * batch id; the benchmark keeps the timed batches' entries.
  */
final class ProgressListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentHashMap[Long, (Map[String, Long], Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    // an idle trigger reports progress under a batch id too; only a
    // batch that ran has an addBatch duration
    if (p.durationMs.containsKey("addBatch"))
      batches.put(p.batchId,
        (p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
  }

  /** Waits (briefly) for the asynchronous progress events of `ids`. */
  private def await(ids: Seq[Long]): Seq[(Map[String, Long], Long)] = {
    val deadline = System.currentTimeMillis() + 10000
    while (ids.exists(id => !batches.containsKey(id)) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    ids.flatMap(id => Option(batches.get(id)))
  }

  /** Source rows read per log line over `ids`. The JSON source applies
    * the pushed-down blacklist while parsing, so rows a branch skips
    * there are not counted.
    */
  def rowsPerLine(ids: Seq[Long], lines: Long): Double =
    await(ids).map(_._2).sum.toDouble / lines

  /** `streamjobs.*` over `ids`. */
  def metrics(ids: Seq[Long]): Seq[(String, Double)] = {
    val got = await(ids)
    def p50(key: String) = Stats.median(got.map(_._1.getOrElse(key, 0L).toDouble))
    val trigger = got.map(_._1.getOrElse("triggerExecution", 0L)).sum
    val add = got.map(_._1.getOrElse("addBatch", 0L)).sum
    val rows = got.map(_._2)
    Seq(
      "streamjobs.trigger_ms_p50" -> p50("triggerExecution"),
      "streamjobs.add_batch_ms_p50" -> p50("addBatch"),
      "streamjobs.latest_offset_ms_p50" -> p50("latestOffset"),
      "streamjobs.get_batch_ms_p50" -> p50("getBatch"),
      "streamjobs.query_planning_ms_p50" -> p50("queryPlanning"),
      "streamjobs.wal_commit_ms_p50" -> p50("walCommit"),
      "streamjobs.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streamjobs.overhead_frac" -> (if (trigger == 0) 0.0 else 1.0 - add.toDouble / trigger),
      "streamjobs.batches" -> got.size.toDouble,
      "streamjobs.rows_per_batch" -> Stats.median(rows.map(_.toDouble)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Weighted quantile: the smallest value whose cumulative weight
    * reaches `q` of the total (no interpolation, so a quantile is
    * always an observed value).
    */
  def quantile(xs: Seq[(Double, Long)], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val sorted = xs.sortBy(_._1)
      val need = q * sorted.map(_._2).sum
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= need }.get._1
    }
}
