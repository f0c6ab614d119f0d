package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{PlanCache, SparkEntry, Tables}

/** A frozen sample of `SparkEntry.queries` through the noop sink, in a
  * fresh `spark.newSession()` of an already-warm JVM. The cold phase is
  * each query's first invocation (table resolves, PlanCache seam builds,
  * planning); the warm phase repeats the sample, so seams are hits. */
object Catalog {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** One invocation: the built DataFrame (None if it failed), the time of
    * `fn(session, dir)` and the time of build plus noop write, ms. */
  final case class Call(name: String, df: Option[DataFrame], buildMs: Double, totalMs: Double)

  def call(s: SparkSession, name: String, dir: String): Call = {
    val t0 = System.nanoTime()
    var built = 0.0
    val df = try {
      val d = SparkEntry.queries(name)(s, dir)
      built = (System.nanoTime() - t0) / 1e6
      d.write.format("noop").mode("overwrite").save()
      Some(d)
    } catch {
      case e: Exception =>
        System.err.println(s"$name failed: $e")
        None
    }
    Call(name, df, built, (System.nanoTime() - t0) / 1e6)
  }

  /** `f` over `xs` on one thread per core (set-up and checks only). */
  def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try xs.map(x => pool.submit(() => f(x))).map(_.get)
    finally pool.shutdown()
  }

  def phase(s: SparkSession, names: Seq[String], dir: String): Seq[Call] = {
    val calls = names.map(call(s, _, dir))
    System.err.println(f"[perfbench] catalog ${dir.split('/').last}: ${calls.map(_.totalMs).sum / 1000}%.2f s; " +
      calls.map(c => f"${c.name}=${c.totalMs}%.0f").mkString(" "))
    calls
  }

  def run(spark: SparkSession, work: String, trace: Boolean, out: Result): Unit = {
    val names = Files.readAllLines(Paths.get(s"$work/order.txt")).asScala.toSeq.filter(_.nonEmpty)
    val expected = Files.readAllLines(Paths.get(s"$work/digests.txt")).asScala
      .map(_.split(" ")).collect { case Array(n, rows, h) => n -> (rows.toLong, h) }.toMap
    val dir = s"$work/tables"

    // JIT and codegen warm-up on the small tables, queries in parallel
    val (_, warmMs) = Result.timed {
      val ws = spark.newSession()
      par(names)(call(ws, _, s"$work/tables-warm"))
      PlanCache.clear(ws)
    }
    out.layer("sessions.warmup_s", warmMs / 1000)

    out.startTimed()
    val s = spark.newSession()
    val cold = phase(s, names, dir)
    val warm = phase(s, names, dir)
    val m = metrics(cold, warm)
    m.foreach { case (k, v) => out.layer(k, v) }
    val all = cold ++ warm
    out.attempted += all.size
    out.failed += all.count(_.df.isEmpty)
    // correctness, outside the timed phases: the results built in both
    // phases must match the stored DuckDB-oracle digest (row count +
    // order-independent hash)
    val digests = par(all.filter(_.df.nonEmpty))(c => (c.name, digest(c.df.get)))
    for ((name, got) <- digests) {
      val ok = expected.get(name).contains(got)
      if (!ok) out.failed += 1
      out.check(ok, s"$name: digest $got, expected ${expected.get(name)}")
    }
    out.check(all.forall(_.df.nonEmpty), "a catalog query failed")
    val (_, clearMs) = Result.timed(PlanCache.clear(s))
    out.layer("plancache.clear_ms", clearMs)

    if (trace) traced(spark, names, dir, m, out)
  }

  /** End-to-end metrics of the cold and the warm phase. */
  def metrics(cold: Seq[Call], warm: Seq[Call]): Map[String, Double] = {
    val w = warm.map(_.totalMs)
    Map(
      "cold_s" -> cold.map(_.totalMs).sum / 1000,
      "items_per_s" -> w.size / (w.sum / 1000),
      "p50_ms" -> Result.median(w))
  }

  /** The traced pass: a second fresh session with Spark's listeners on,
    * plus table resolves timed in a third. */
  def traced(spark: SparkSession, names: Seq[String], dir: String,
             untraced: Map[String, Double], out: Result): Unit = {
    val rs = spark.newSession()
    val cold = TableNames.map(t => Result.timed(Tables.table(rs, dir, t))._2)
    val warm = TableNames.map(t => Result.timed(Tables.table(rs, dir, t))._2)
    out.layer("tables.resolve_cold_ms", cold.sum)
    out.layer("tables.resolve_warm_ms", warm.sum)

    val s = spark.newSession()
    val exec = new Trace.Exec
    val phases = new Trace.Phases
    spark.sparkContext.addSparkListener(exec)
    s.listenerManager.register(phases)
    val (rdds0, _) = SparkSessionOps.pinned(spark)
    val c = phase(s, names, dir)
    val (rdds1, pinnedMb) = SparkSessionOps.pinned(spark)
    exec.start(s); phases.start(s)
    val w = phase(s, names, dir)
    exec.stop(s); phases.stop(s)
    exec.report(out)
    phases.report(out)
    out.layer("operators.build_cold_ms", c.map(_.buildMs).sum)
    out.layer("operators.build_warm_ms", w.map(_.buildMs).sum)
    out.layer("plancache.seams_built", (rdds1 - rdds0).toDouble)
    out.layer("plancache.pinned_mb", pinnedMb)
    metrics(c, w).foreach { case (k, v) => out.layer(s"overhead.$k", v - untraced(k)) }
    PlanCache.clear(s)
  }

  /** Row count and an order-independent hash of a result: the sum of the
    * first 8 bytes (big-endian, two's complement) of each row's MD5, where
    * a row is its canonical cells joined by `|` in column-name order.
    * `digest.py` computes the same over DuckDB's result. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    df.collect().foreach { row =>
      val bytes = md5.digest(order.map(i => canon(row.get(i))).mkString("|").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
      n += 1
    }
    (n, java.lang.Long.toHexString(sum))
  }

  private def micros(epochSec: Long, nanos: Int): Long = epochSec * 1000000L + nanos / 1000

  /** Canonical cell text both engines can produce exactly: doubles by
    * their IEEE bits, times as epoch micros (UTC), dates as epoch days. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case d: java.math.BigDecimal => if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case s: String => s.flatMap {
      case c @ ('\\' | '|' | ',' | '[' | ']' | '{' | '}' | ':') => "\\" + c
      case c => c.toString
    }
    case t: java.sql.Timestamp => micros(Math.floorDiv(t.getTime, 1000L), t.getNanos).toString
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); micros(i.getEpochSecond, i.getNano).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString // booleans and integers
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "nan" else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
}
