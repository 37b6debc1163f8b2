package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.streaming.{EventStreams, NesConfig, StreamJobs}

/** Self time of each `EventStreams` stage and the planning time of the
  * whole `NesConfig.pipeline`, on a fixed sample of the run's log files.
  *
  * Each stage's input is materialised once, untimed; the stage is then
  * timed as its public call plus a noop write over that cached input, so
  * a stage's time excludes every stage upstream of it.
  */
object StageHarness {
  val SampleLines = 50000
  val Reps = 3

  def run(spark: SparkSession, cfg: NesConfig, tokens: DataFrame,
      logDir: Path, files: Seq[String], linesPerFile: Int): Seq[(String, Double)] = {
    val sample = files.take(math.max(1, SampleLines / linesPerFile))
    val klines = sample.size * linesPerFile / 1000.0
    def cached(df: DataFrame): (DataFrame, Long) = { val p = df.cache(); (p, p.count()) }
    def selfMs(stage: => DataFrame): Double = Stats.median((1 to Reps).map { _ =>
      val t = System.nanoTime()
      stage.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e6
    })
    val (logs, nLogs) = cached(spark.read.schema(StreamJobs.logSchema)
      .json(sample.map(f => logDir.resolve(f).toString): _*))
    val (ext, nExt) = cached(EventStreams.extractEvents(logs))
    val (valid, nValid) = cached(EventStreams.validated(ext))
    val (filt, nFilt) = cached(EventStreams.filterContracts(
      valid, cfg.whitelistContractIds, cfg.blacklistContractIds))
    val (flat, nFlat) = cached(EventStreams.flattenNep171(filt))
    val (enr, nEnr) = cached(EventStreams.enrichMetadata(flat, tokens))
    val route = EventStreams.toKafkaRecords(filt, cfg.nearEventsTopicPrefix, cfg.nearEventsAllTopic)
    val meta = EventStreams.metadataRecords(enr, cfg.nearEventsTopicPrefix)
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val stages = Seq(
      ("extract", selfMs(EventStreams.extractEvents(logs)), ratio(nExt, nLogs)),
      ("validate", selfMs(EventStreams.validated(ext)), ratio(nValid, nExt)),
      ("filter", selfMs(EventStreams.filterContracts(
        valid, cfg.whitelistContractIds, cfg.blacklistContractIds)), ratio(nFilt, nValid)),
      ("flatten", selfMs(EventStreams.flattenNep171(filt)), ratio(nFlat, nFilt)),
      ("enrich", selfMs(EventStreams.enrichMetadata(flat, tokens)), ratio(nEnr, nFlat)),
      ("route", selfMs(EventStreams.toKafkaRecords(
        filt, cfg.nearEventsTopicPrefix, cfg.nearEventsAllTopic)), ratio(route.count(), nFilt)),
      ("metadata", selfMs(EventStreams.metadataRecords(enr, cfg.nearEventsTopicPrefix)),
        ratio(meta.count(), nEnr)))
    val hit = ratio(enr.filter(col("title").isNotNull).count(), nEnr)
    val planMs = Stats.median((1 to Reps).map { _ =>
      val df = cfg.pipeline(logs, if (cfg.enrichMetadata) Some(tokens) else None)
      val t = System.nanoTime()
      df.queryExecution.executedPlan
      (System.nanoTime() - t) / 1e6
    })
    Seq(logs, ext, valid, filt, flat, enr).foreach(_.unpersist())
    stages.flatMap { case (name, ms, rows) =>
      Seq(s"eventstreams.$name.ms_per_kline" -> ms / klines,
        s"eventstreams.$name.rows_out_per_in" -> rows)
    } ++ Seq("eventstreams.enrich.hit_frac" -> hit, "plans.pipeline.plan_ms" -> planMs)
  }
}
