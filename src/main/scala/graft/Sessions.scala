package graft

import org.apache.spark.sql.SparkSession

/** Single session factory for every entry point (Verify, Bench, App,
  * Explain, StreamDemo, tests): local[cpus] with
  * shuffle.partitions = threads, UTC, and the nanos-timestamp read flag
  * set at BUILD time — so reading `events.parquet` is order-independent
  * (no hidden conf mutation required first; see Tables.events).
  * `file:` paths go through graft.io's fork-free local filesystem
  * (see [[graft.io.NioRawLocalFileSystem]]). */
object Sessions {
  /** `SPARK_GRAFT_CPUS` when set to an integer, else min(cores, 32). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.io.LocalFileSystems.sparkConf)
      .getOrCreate()
}
