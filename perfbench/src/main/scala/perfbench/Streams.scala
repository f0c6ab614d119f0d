package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.functions.Sentiment
import graft.streaming.Pipeline

/** The reference's continuous path on graft's public entry points:
  * `tweet-replay` → `Pipeline.tweetsFromPayload` → `scoreTweets(lang,
  * track)` → `sentimentCounts` → `writeParquet`, checkpointed, under
  * `Trigger.ProcessingTime(0)`.
  *
  * Never `Trigger.AvailableNow`: `TweetReplay` does not implement
  * `SupportsTriggerAvailableNow`, so Spark ignores its `maxFilesPerTrigger`
  * and runs the whole backlog as one batch; append mode then finalizes no
  * window and the sink receives 0 rows. `checkBatches` guards that. */
object Streams {
  val WindowMs = 60000L

  /** Work-dir layout written by run.py (`gen.py`). */
  final case class Inputs(work: String) {
    private val kv: Map[String, String] =
      Files.readAllLines(Paths.get(s"$work/inputs.txt")).asScala
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    def int(k: String): Int = kv(k).toInt
    def str(k: String): String = kv(k)
    val replay = s"$work/replay"
    val warm = s"$work/warm"
  }

  /** One finished streaming query: its progress reports and where it wrote. */
  final case class Run(progress: Seq[StreamingQueryProgress], startMs: Long, sink: String) {
    val data: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def commitMs(p: StreamingQueryProgress): Long =
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def rows: Long = data.map(_.numInputRows).sum
    /** File range [start, end) of a batch, from the source's offsets. */
    def files(p: StreamingQueryProgress): (Int, Int) =
      (Option(p.sources.head.startOffset).map(_.trim.toInt).getOrElse(0),
        p.sources.head.endOffset.trim.toInt)
    def watermarkMs: Long =
      progress.reverse.flatMap(p => Option(p.eventTime.get("watermark"))).headOption
        .map(Instant.parse(_).toEpochMilli).getOrElse(0L)
  }

  def counts(raw: DataFrame, in: Inputs): DataFrame =
    Pipeline.sentimentCounts(Pipeline.scoreTweets(Pipeline.tweetsFromPayload(raw),
      in.str("lang"), in.str("track")))

  /** Start the pipeline on `dir`; stop once `processAllAvailable` has
    * drained the backlog. */
  def runQuery(spark: SparkSession, log: Trace.Progress, in: Inputs, dir: String,
               base: String, opts: Map[String, String] = Map.empty): Run = {
    val raw = spark.readStream.format("tweet-replay").option("path", dir)
      .option("maxFilesPerTrigger", in.str("max_files")).options(opts).load()
    val startMs = System.currentTimeMillis()
    val q = Pipeline.writeParquet(counts(raw, in), s"${in.work}/$base/sink", s"${in.work}/$base/chk",
      Trigger.ProcessingTime(0))
    q.processAllAvailable()
    q.stop()
    q.exception.foreach(e => throw e)
    val r = Run(log.of(q.id), startMs, s"${in.work}/$base/sink")
    System.err.println(s"[perfbench] stream $base: ${r.data.size} data batches, " +
      s"${r.rows} rows, ms per batch: " + r.data.map(r.dur(_, "triggerExecution").toLong).mkString(" "))
    r
  }

  def warmUp(spark: SparkSession, log: Trace.Progress, in: Inputs, base: String): Unit =
    runQuery(spark, log, in, in.warm, base)

  /** The AvailableNow guard: as many data batches as the backlog and
    * `maxFilesPerTrigger` imply, and rows landed in the sink. */
  def checkBatches(r: Run, in: Inputs, out: Result): Unit = {
    val (files, maxFiles) = (in.int("files"), in.int("max_files"))
    val need = (files + maxFiles - 1) / maxFiles
    out.check(r.data.size >= need,
      s"${r.data.size} data batches for $files files at maxFilesPerTrigger=$maxFiles (need $need)")
  }

  /** Sink rows must equal the batch twin over the same payload files:
    * `scoreTweets` plus the same windowing, restricted to windows that end
    * by the final watermark; malformed lines are counted, never landed. */
  def checkTwin(spark: SparkSession, r: Run, in: Inputs, out: Result): Long = {
    val raw = spark.read.text(in.replay)
    val expect = counts(raw, in)
      .filter(col("window_start") <= lit(new java.sql.Timestamp(r.watermarkMs - WindowMs)))
    def rows(df: DataFrame) = df.select(col("window_start").cast("long"), col("label"), col("n_tweets"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).sorted.toSeq
    val (got, want) = (rows(spark.read.parquet(r.sink)), rows(expect))
    out.check(got.nonEmpty, "no rows landed in the sink")
    out.check(got == want, s"sink has ${got.size} window rows, batch twin ${want.size}; " +
      s"first difference ${got.diff(want).headOption.orElse(want.diff(got).headOption)}")
    val corrupt = Pipeline.corruptRecords(Pipeline.parseTweets(raw)).count()
    out.check(corrupt == in.int("malformed"),
      s"$corrupt corrupt rows parsed, ${in.int("malformed")} malformed lines written")
    out.check(r.rows == in.int("tweets").toLong,
      s"the stream read ${r.rows} lines of ${in.int("tweets")}")
    corrupt
  }

  /** End-to-end metrics of a drain: a fresh query's one pass over the
    * backlog, from `start()` to the last data batch's commit. */
  def drainMetrics(r: Run, tweets: Long): Map[String, Double] = {
    val wallS = (r.commitMs(r.data.last) - r.startMs) / 1000.0
    Map(
      "items_per_s" -> tweets / wallS,
      "p50_ms" -> Result.median(r.data.map(r.dur(_, "triggerExecution"))),
      "cold_s" -> wallS)
  }

  def drain(spark: SparkSession, work: String, trace: Boolean, out: Result): Unit = {
    val in = Inputs(work)
    val log = new Trace.Progress
    spark.streams.addListener(log)
    val (_, warmMs) = Result.timed(warmUp(spark, log, in, "q-warm"))
    out.layer("sessions.warmup_s", warmMs / 1000)
    out.startTimed()
    val r = runQuery(spark, log, in, in.replay, "q-main")
    val m = drainMetrics(r, in.int("tweets"))
    m.foreach { case (k, v) => out.layer(k, v) }
    out.attempted += in.int("files")
    checkBatches(r, in, out)
    val corrupt = checkTwin(spark, r, in, out)
    if (trace) {
      val exec = new Trace.Exec
      spark.sparkContext.addSparkListener(exec)
      exec.start(spark)
      val rt = runQuery(spark, log, in, in.replay, "q-traced")
      exec.stop(spark)
      exec.report(out)
      drainMetrics(rt, in.int("tweets")).foreach { case (k, v) => out.layer(s"overhead.$k", v - m(k)) }
      streamLayers(rt, corrupt, out)
      out.layer("streaming.first_commit_s", (r.commitMs(r.data.head) - r.startMs) / 1000.0)
      functionRates(spark, in, out)
    }
  }

  /** Progress-phase, source, state-store and sink numbers of one run. */
  def streamLayers(r: Run, corrupt: Long, out: Result): Unit = {
    def mean(k: String, ps: Seq[StreamingQueryProgress] = r.data) = Result.mean(ps.map(r.dur(_, k)))
    val tenth = math.max(1, r.data.size / 10)
    out.layer("streaming.query_planning_ms", mean("queryPlanning"))
    out.layer("streaming.add_batch_ms", mean("addBatch"))
    out.layer("tweetreplay.latest_offset_ms", mean("latestOffset"))
    out.layer("tweetreplay.latest_offset_first_ms", mean("latestOffset", r.data.take(tenth)))
    out.layer("tweetreplay.latest_offset_last_ms", mean("latestOffset", r.data.takeRight(tenth)))
    out.layer("tweetreplay.get_batch_ms", mean("getBatch"))
    out.layer("tweetreplay.files_per_batch",
      Result.mean(r.data.map(r.files).map { case (a, b) => (b - a).toDouble }))
    val state = r.data.flatMap(_.stateOperators.headOption)
    out.layer("streaming.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    out.layer("streaming.state_mem_mb",
      if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1048576.0)
    out.layer("streaming.state_update_ms", Result.mean(state.map(_.allUpdatesTimeMs.toDouble)))
    out.layer("streaming.rows_dropped_by_watermark", state.map(_.numRowsDroppedByWatermark).sum.toDouble)
    out.layer("streaming.corrupt_rows", corrupt.toDouble)
    out.layer("sink.wal_commit_ms", mean("walCommit"))
    out.layer("sink.commit_offsets_ms", mean("commitOffsets"))
    val parts = Option(new java.io.File(r.sink).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    out.layer("sink.files", parts.size.toDouble)
    out.layer("sink.mb", parts.map(_.length).sum / 1048576.0)
  }

  /** Standalone batch rates of the two row functions on the same payload,
    * over an in-memory copy so the file read is not timed. */
  def functionRates(spark: SparkSession, in: Inputs, out: Result): Unit = {
    val raw = spark.read.text(in.replay).cache()
    val n = raw.count()
    val (_, parseMs) = Result.timed(Pipeline.parseTweets(raw).write.format("noop").mode("overwrite").save())
    val text = Pipeline.validTweets(Pipeline.parseTweets(raw)).select("text").cache()
    val nt = text.count()
    val (_, scoreMs) = Result.timed(
      text.select(Sentiment.score(col("text")).as("s")).write.format("noop").mode("overwrite").save())
    out.layer("functions.parse_rows_per_s", n / (parseMs / 1000))
    out.layer("functions.sentiment_rows_per_s", nt / (scoreMs / 1000))
    raw.unpersist(); text.unpersist()
  }

  /** `local[1]` drain of the first files of the payload, docs/s only. */
  def baseline(spark: SparkSession, work: String, out: Result): Unit = {
    val in = Inputs(work)
    val log = new Trace.Progress
    spark.streams.addListener(log)
    warmUp(spark, log, in, "q-warm-1core")
    val files = in.int("baseline_files")
    val r = runQuery(spark, log, in, in.replay, "q-1core", Map("stopAtFile" -> files.toString))
    out.check(r.rows == files.toLong * in.int("per_file"), s"baseline read ${r.rows} lines")
    out.layer("execution.drain_docs_per_s_1core", drainMetrics(r, r.rows)("items_per_s"))
  }
}
