package graft.perfbench

import java.nio.file.Paths
import graft.streaming.{NesConfig, StreamJobs}

/** `NesConfig.pipeline` run as a batch over a generated input set,
  * written as the same topic-partitioned parquet the stream's sink
  * writes. `test_perfbench.py` diffs it against `oracle.py`.
  *
  * Args: `<inputs dir> <out dir> <blacklist,csv> <enrich 0|1>`.
  */
object BatchReference {
  def main(args: Array[String]): Unit = {
    val Array(inputs, out, blacklist, enrich) = args
    val work = Paths.get(out).resolveSibling("batch-work")
    val spark = StreamBench.session(1, work)
    val cfg = NesConfig(blacklistContractIds = blacklist.split(",").toSeq.filter(_.nonEmpty),
      enrichMetadata = enrich == "1")
    val logs = spark.read.schema(StreamJobs.logSchema).json(Paths.get(inputs, "logs").toString)
    val tokens = spark.read.schema(StreamBench.tokenSchema).json(Paths.get(inputs, "tokens.json").toString)
    cfg.pipeline(logs, if (cfg.enrichMetadata) Some(tokens) else None)
      .write.partitionBy("topic").parquet(out)
    spark.stop()
  }
}
