package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.streaming.{NesConfig, StreamJobs}

/** One benchmark run of graft's reference pipeline as a stream.
  *
  * The stream is `NesConfig.pipeline` over a file source with
  * `Trigger.ProcessingTime(0)`, delivering through the same per-topic
  * parquet `foreachBatch` sink as `NesConfig.runConfigured`. Log files
  * come pre-generated; this process only publishes them into the
  * source directory, either
  *  - on an open-loop schedule (`--rate` lines/s, one file at a time),
  *    timing each file from when it was due to when the batch holding
  *    it returned from the sink write, or
  *  - as repeated backlogs (`--rate 0`): each rep links the whole input
  *    set into the source at once and is timed until its last batch is
  *    visible.
  * The result (timings, committed files, validity and, traced, the
  * per-layer metrics) goes to `--result` as one JSON object.
  */
object StreamBench {

  final case class Opts(
      inputs: Path, work: Path, result: Path, seconds: Int, trace: Boolean,
      cores: Int, files: Int, linesPerFile: Int, blacklist: Seq[String],
      enrich: Boolean, rate: Double, warmUnits: Int, maxFilesPerTrigger: Int,
      sinkSleepMs: Long, dropRecord: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      inputs = Paths.get(m("inputs")), work = Paths.get(m("work")),
      result = Paths.get(m("result")), seconds = m("seconds").toInt,
      trace = m("trace") == "1", cores = m("cores").toInt, files = m("files").toInt,
      linesPerFile = m("lines-per-file").toInt,
      blacklist = m("blacklist").split(",").toSeq.filter(_.nonEmpty),
      enrich = m("enrich") == "1", rate = m("rate").toDouble,
      warmUnits = m("warm-units").toInt,
      maxFilesPerTrigger = m.getOrElse("max-files-per-trigger", "0").toInt,
      sinkSleepMs = m.getOrElse("sink-sleep-ms", "0").toLong,
      dropRecord = m.getOrElse("drop-record", "0") == "1")
  }

  val tokenSchema: StructType = StructType(
    Seq("contract_account_id", "token_id", "title", "media", "extra")
      .map(StructField(_, StringType)))

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The benchmark's `foreachBatch` body: graft's per-topic parquet
    * append, timed, with the visible time of every input file recorded.
    * `sinkSleepMs` and `dropRecord` plant the positive controls.
    */
  final class Sink(out: String, checkpoint: Path, sinkSleepMs: Long) {
    @volatile var dropArmed = false
    val visible = new ConcurrentHashMap[String, java.lang.Long]()
    val batchOf = new ConcurrentHashMap[String, java.lang.Long]()
    val writeMs = mutable.ArrayBuffer.empty[(Long, Double)]
    private var lastLogOffset = -1L

    def write(batch: DataFrame, id: Long): Unit = {
      val start = System.nanoTime()
      val names = inputFiles(id)
      val rows =
        if (!dropArmed) batch
        else {
          dropArmed = false
          val withId = batch.withColumn("_row", monotonically_increasing_id())
          val first = withId.agg(min("_row")).head().getLong(0)
          withId.filter(col("_row") =!= first).drop("_row")
        }
      rows.write.mode("append").partitionBy("topic").parquet(out)
      if (sinkSleepMs > 0) Thread.sleep(sinkSleepMs)
      val end = System.nanoTime()
      synchronized {
        writeMs += id -> (end - start) / 1e6
        names.foreach { n => visible.put(n, end); batchOf.put(n, id) }
        notifyAll()
      }
    }

    /** The batch's input files, from the query's checkpoint: the file
      * source's end offset for batch `id` and the source log entries
      * after the previous batch's offset. (`foreachBatch` hands over a
      * materialised frame, so `inputFiles` cannot see them.)
      */
    private def inputFiles(id: Long): Seq[String] = {
      def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
      val offset = LogOffset.findAllMatchIn(text(checkpoint.resolve(s"offsets/$id")))
        .map(_.group(1).toLong).toSeq.last
      val log = checkpoint.resolve("sources/0")
      val names = (lastLogOffset + 1 to offset).flatMap { k =>
        val plain = log.resolve(k.toString)
        val file = if (Files.exists(plain)) plain else log.resolve(s"$k.compact")
        SourceEntry.findAllMatchIn(text(file)).collect {
          case m if m.group(2).toLong == k => m.group(1).substring(m.group(1).lastIndexOf('/') + 1)
        }
      }
      lastLogOffset = offset
      names
    }

    /** Wait until every named file is visible; false on timeout. */
    def await(names: Iterable[String], timeoutMs: Long): Boolean = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def pending = names.exists(n => !visible.containsKey(n))
      while (pending && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      !pending
    }
  }

  /** One timed window: per-file (latency ms, lines) and its wall span. */
  final case class Window(samples: Seq[(Double, Long)], lines: Long, spanNs: Long) {
    def latency(q: Double): Double = Stats.quantile(samples, q)
    def linesPerS: Double = if (spanNs <= 0) 0.0 else lines / (spanNs / 1e9)
  }

  /** What a publishing loop hands back: the timed windows, the timed files,
    * setup end and the open loop's validity data.
    */
  final case class Timed(
      windows: Seq[Window], timedFiles: Seq[String], setupEndNs: Long,
      lateMaxMs: Double, backlogEndFiles: Int, published: Seq[String], drained: Boolean)

  private val LogOffset = "\"logOffset\":(\\d+)".r
  private val SourceEntry = "\"path\":\"([^\"]+)\"[^\n]*?\"batchId\":(\\d+)".r

  /** Open-loop window length: short enough for a median over several
    * per run, long enough to hold several micro-batches.
    */
  val WindowSeconds = 5

  def fileName(i: Int): String = f"f$i%04d.json"

  /** Open loop: file k is due at `t0 + k * interval`; files before
    * `warmUnits` are the warm phase, the next `seconds` worth are timed,
    * cut into `WindowSeconds` windows by due time.
    */
  def openLoop(o: Opts, src: Path, sink: Sink, window: Boolean => Unit): Timed = {
    val intervalNs = (o.linesPerFile / o.rate * 1e9).toLong
    val timed = math.ceil(o.seconds * 1e9 / intervalNs).toInt
    val total = o.warmUnits + timed
    require(o.files >= total, s"need $total input files, have ${o.files}")
    val logs = o.inputs.resolve("logs")
    val due = new Array[Long](total)
    val t0 = System.nanoTime() + 200L * 1000 * 1000
    @volatile var lateMax = 0L
    @volatile var backlogEnd = 0
    val publisher = new Thread(() => {
      for (k <- 0 until total) {
        due(k) = t0 + k * intervalNs
        sleepUntil(due(k))
        val dst = Files.createLink(src.resolve(fileName(k)), logs.resolve(fileName(k)))
        Files.setLastModifiedTime(dst, FileTime.fromMillis(System.currentTimeMillis()))
        if (k >= o.warmUnits) lateMax = math.max(lateMax, System.nanoTime() - due(k))
      }
      backlogEnd = (0 until total).count(k => !sink.visible.containsKey(fileName(k)))
    }, "perfbench-generator")
    publisher.setDaemon(true)
    publisher.start()
    val setupEnd = t0 + o.warmUnits * intervalNs
    sleepUntil(setupEnd)
    window(true)
    publisher.join()
    val names = (0 until total).map(fileName)
    val drained = sink.await(names, 60000)
    window(false)
    val timedIdx = o.warmUnits until total
    val perWindow = math.max(1, (WindowSeconds * 1e9 / intervalNs).toInt)
    val windows = timedIdx.grouped(perWindow).map { ks =>
      val vis = ks.flatMap(k => Option(sink.visible.get(fileName(k))).map(k -> _.longValue))
      Window(vis.map { case (k, v) => ((v - due(k)) / 1e6, o.linesPerFile.toLong) },
        vis.size.toLong * o.linesPerFile,
        if (vis.isEmpty) 0L else vis.map(_._2).max - due(ks.head))
    }.toSeq
    Timed(windows, timedIdx.map(fileName), setupEnd, lateMax / 1e6, backlogEnd, names, drained)
  }

  /** Backlog reps: rep r links every input file into the source as
    * `r<r>_<file>` at once; `warmUnits` reps warm, then reps repeat
    * until `seconds` of timed draining have passed. Each timed rep is
    * its own window.
    */
  def backlog(o: Opts, src: Path, sink: Sink, window: Boolean => Unit): Timed = {
    val logs = o.inputs.resolve("logs")
    val windows = mutable.ArrayBuffer.empty[Window]
    val published = mutable.ArrayBuffer.empty[String]
    val timedFiles = mutable.ArrayBuffer.empty[String]
    var span = 0L
    var setupEnd = 0L
    var drained = true
    var rep = 0
    while (drained && (rep < o.warmUnits || span < o.seconds * 1000000000L)) {
      if (rep == o.warmUnits) { setupEnd = System.nanoTime(); window(true) }
      val names = (0 until o.files).map(i => s"r${rep}_${fileName(i)}")
      val pub = System.nanoTime()
      for (i <- 0 until o.files) Files.createLink(src.resolve(names(i)), logs.resolve(fileName(i)))
      published ++= names
      drained = sink.await(names, 120000)
      if (rep >= o.warmUnits) {
        val vis = names.flatMap(n => Option(sink.visible.get(n)).map(_.longValue))
        val w = Window(vis.map(v => ((v - pub) / 1e6, o.linesPerFile.toLong)),
          vis.size.toLong * o.linesPerFile, if (vis.isEmpty) 0L else vis.max - pub)
        windows += w
        span += w.spanNs
        System.err.println(f"[perfbench] rep $rep drained in ${w.spanNs / 1e9}%.2f s")
        timedFiles ++= names
      }
      rep += 1
    }
    window(false)
    Timed(windows.toSeq, timedFiles.toSeq, setupEnd, 0.0, 0, published.toSeq, drained)
  }

  def sleepUntil(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t) { LockSupport.parkNanos(t - now); now = System.nanoTime() }
  }

  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - mainStart) / 1e9}%.2f s $what")
    val o = parse(args)
    val src = Files.createDirectories(o.work.resolve("src"))
    val out = o.work.resolve("sink").toString
    val spark = session(o.cores, o.work)
    mark("session")
    val tokens = spark.read.schema(tokenSchema).json(o.inputs.resolve("tokens.json").toString).cache()
    tokens.count()
    mark("token dim")
    val cfg = NesConfig(blacklistContractIds = o.blacklist, enrichMetadata = o.enrich)
    val core = if (o.trace) Some(new CoreListener) else None
    val progress = if (o.trace) Some(new ProgressListener) else None
    core.foreach(spark.sparkContext.addSparkListener)
    progress.foreach(spark.streams.addListener)

    val sink = new Sink(out, o.work.resolve("checkpoint"), o.sinkSleepMs)
    val reader = spark.readStream.schema(StreamJobs.logSchema)
    val logs = (if (o.maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", o.maxFilesPerTrigger.toLong) else reader).json(src.toString)
    val query = cfg.pipeline(logs, if (o.enrich) Some(tokens) else None).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", o.work.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, id: Long) => sink.write(b, id) }
      .start()
    mark("query started")

    // the timed window opens the core counters and arms a planted drop
    val window = (open: Boolean) => {
      core.foreach(_.on = open)
      if (open && o.dropRecord) sink.dropArmed = true
    }
    val timed = if (o.rate > 0) openLoop(o, src, sink, window) else backlog(o, src, sink, window)
    val wallMs = timed.windows.map(_.spanNs).sum / 1e6
    mark("timed window done")
    // let the last batch commit and report progress before stopping
    sink.synchronized(sink.writeMs.map(_._1).maxOption).foreach { last =>
      val deadline = System.currentTimeMillis() + 10000
      while (Option(query.lastProgress).forall(_.batchId < last) &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
    query.stop()
    mark("query stopped")
    val rss = rssPeakMb()

    val timedBatches = timed.timedFiles.flatMap(n => Option(sink.batchOf.get(n)).map(_.longValue)).distinct.sorted
    val layers = mutable.ArrayBuffer.empty[(String, Double)]
    if (o.trace) {
      // over every batch of the run, so the count repeats exactly per seed
      val allBatches = sink.synchronized(sink.writeMs.map(_._1).toSeq)
      val committedLines = timed.published.count(sink.visible.containsKey).toLong * o.linesPerFile
      layers += "nesconfig.source_rows_per_line" -> progress.get.rowsPerLine(allBatches, committedLines)
      layers ++= progress.get.metrics(timedBatches)
      layers ++= core.get.metrics(wallMs, o.cores)
      val writes = sink.synchronized(sink.writeMs.filter(w => timedBatches.contains(w._1)).map(_._2).toSeq)
      layers += "sinks.write_ms_p50" -> Stats.median(writes)
      layers ++= StageHarness.run(spark, cfg, tokens,
        o.inputs.resolve("logs"), (0 until o.files).map(fileName), o.linesPerFile)
    }
    spark.stop()
    mark("session stopped")

    // a metric is the median over the timed windows
    def med(f: Window => Double) = Stats.median(timed.windows.map(f))
    val committed = timed.published.filter(sink.visible.containsKey)
    val json = new StringBuilder("{")
    def num(k: String, v: Double): Unit = json ++= s""""$k":$v,"""
    num("setup_s", (timed.setupEndNs - mainStart) / 1e9)
    num("latency_p50_ms", med(_.latency(0.5)))
    num("latency_p90_ms", med(_.latency(0.9)))
    num("lines_per_s", med(_.linesPerS))
    num("rss_peak_mb", rss)
    num("windows", timed.windows.size)
    num("late_max_ms", timed.lateMaxMs)
    num("backlog_end_files", timed.backlogEndFiles)
    num("lines_published", timed.published.size.toDouble * o.linesPerFile)
    num("batches", sink.synchronized(sink.writeMs.size))
    json ++= s""""drained":${timed.drained},"""
    json ++= layers.map { case (k, v) => s""""$k":$v""" }.mkString(""""layers":{""", ",", "},")
    json ++= committed.map(n => "\"" + n + "\"").mkString(""""committed":[""", ",", "]}")
    Files.write(o.result, json.toString.getBytes("UTF-8"))
  }
}
