package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs into `DIR`,
  * then starts this main once per run:
  *
  * {{{
  * Main [--mode run|baseline] --workload W --trace 0|1 --work DIR --cores C
  * Main --mode oracle-sql --names q1,q2,... --out FILE
  * }}}
  *
  * It prints one line `PERFBENCH {json}` on stdout. The JSON holds the
  * run's metrics (name → number), `attempted`, `failed`, `correct` and the
  * epoch milliseconds of the first timed operation, from which `run.py`
  * derives `setup_s`. Everything else it prints goes to stderr.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a.getOrElse("mode", "run")
    if (mode == "oracle-sql") {
      // the DuckDB oracle SQL of the catalog sample, for make_digests.py
      val names = a("names").split(",").toSet
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
        graft.Verify.oracleJson(names.contains))
      return
    }
    val work = a("work")
    val cores = a("cores").toInt
    val out = new Result
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cores)
    out.layer("sessions.build_ms", (System.nanoTime() - t0) / 1e6)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = a.getOrElse("trace", "0") == "1"
    try {
      (mode, a("workload")) match {
        case ("baseline", _) => Streams.baseline(spark, work, out)
        case (_, "tweet_stream") => Streams.drain(spark, work, trace, out)
        case (_, "query_catalog") => Catalog.run(spark, work, trace, out)
        case (_, w) => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.layer("heap_used_mb", Result.heapUsedMb(spark))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.correct = false
        out.notes += s"run failed: $e"
    } finally {
      spark.stop()
    }
    println("PERFBENCH " + out.json)
  }
}

/** What one run reports back to run.py. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var correct = true
  var firstTimedEpochMs = 0L

  def layer(name: String, v: Double): Unit = metrics(name) = v

  /** Mark the start of the measured region (the end of set-up). */
  def startTimed(): Unit =
    if (firstTimedEpochMs == 0L) firstTimedEpochMs = System.currentTimeMillis()

  /** A correctness check: a false `ok` fails the run and is named. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; notes += what; System.err.println(s"CHECK FAILED: $what") }

  def json: String = {
    def str(s: String) = graft.Verify.jsonString(s)
    val ms = metrics.map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
    s"""{"metrics":$ms,"attempted":$attempted,"failed":$failed,"correct":$correct,""" +
      s""""first_timed_epoch_ms":$firstTimedEpochMs,"notes":${notes.map(str).mkString("[", ",", "]")}}"""
  }
}

object Result {
  /** Used heap after a forced GC, MB: once asynchronous unpersists are done
    * and every listener event (some hold query plans) has been delivered,
    * collecting until two readings agree, since Spark's ContextCleaner
    * frees broadcast blocks only after a GC has found them unreachable. */
  def heapUsedMb(spark: SparkSession): Double = {
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { mx.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, n) = (0.0, used(), 1)
    while (n < 10 && math.abs(cur - prev) > 0.005 * cur) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object SparkSessionOps {
  /** Persisted RDDs and the MB they pin (memory + disk). */
  def pinned(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}
