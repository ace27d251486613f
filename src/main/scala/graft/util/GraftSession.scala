package graft.util

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main (and the spec session)
  * builds its `SparkSession` here, so a probe measures the same engine
  * `graft.Bench` times and `graft.Verify` dumps. The contract config:
  *  - `local[cpus]`, shuffle partitions = cpus unless
  *    `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides them (scale sweeps: per-task
  *    memory is heap/concurrency ÷ rows-per-partition, so a 100× fixture on
  *    the same heap needs proportionally more, smaller partitions; AQE
  *    coalesces the small ones back);
  *  - session time zone pinned to UTC in code, not only by build.sbt's
  *    forked-JVM flag: the NTZ→TIMESTAMP fixture normalization is
  *    session-TZ-dependent, so a launch on a non-UTC host must not shift
  *    instants;
  *  - `nanosAsLong`, so TIMESTAMP(NANOS) parquet reads on every path, not
  *    only after the first `Tables.t` load;
  *  - the RocksDB state store with changelog checkpointing: the default
  *    HDFS-backed provider keeps all keyed streaming state on the executor
  *    heap, RocksDB spills it to local disk with a bounded block cache and
  *    uploads per-batch deltas instead of full snapshots (state values are
  *    byte-identical either way, so oracles are unaffected);
  *  - UI off, log level WARN.
  *
  * Extensions are deliberately not registered here: the mains reach the
  * native functions through `ensureRegistered`, the route outside
  * sessions depend on.
  */
object GraftSession {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Thread count for the mains: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The contract config for `cpus` threads and an optional
    * shuffle-partition override.
    */
  private[graft] def settings(cpus: Int, shufflePartitions: Option[String]): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(cpus.toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN")

  /** A builder carrying the contract config, for callers that add to it. */
  def builder(cpus: Int): SparkSession.Builder =
    settings(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  def create(cpus: Int = GraftSession.cpus): SparkSession = builder(cpus).getOrCreate()

  /** Drop cached frames and every persisted RDD, blocking: `clearCache()`
    * does not touch localCheckpoint result blocks, and leaving their
    * release to the ContextCleaner (GC timing) lets block churn from one
    * query bleed into the next one's timing.
    */
  def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Quiesce the state-store maintenance pool, then stop the session: the
    * pool otherwise races `spark.stop()` and dumps an
    * RpcEnvStoppedException trace after a main's last output line.
    */
  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
  }
}
