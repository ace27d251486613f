package graft

import graft.util.GraftSession

/** Pins the contract config `GraftSession` gives every main (and the
  * spec session, built through it at `SparkSpec.Cpus` threads).
  */
class GraftSessionSpec extends SparkSpec {

  test("a factory-built session carries every contract key") {
    assert(spark.sparkContext.master == s"local[${SparkSpec.Cpus}]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(
      spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
        GraftSession.RocksDbProvider)
    assert(
      spark.conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") ==
        "true")
    assert(
      spark.conf.get("spark.sql.shuffle.partitions") ==
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", SparkSpec.Cpus.toString))
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("shuffle partitions default to cpus; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides them") {
    def partitions(cpus: Int, env: Option[String]) =
      GraftSession.settings(cpus, env).toMap.apply("spark.sql.shuffle.partitions")
    assert(partitions(6, None) == "6")
    assert(partitions(6, Some("64")) == "64")
    assert(GraftSession.settings(6, None).toMap.apply("spark.master") == "local[6]")
  }

  test("resetCaches drops cached frames and persisted RDDs") {
    val df = spark.range(10).toDF("id").cache()
    df.count()
    spark.sparkContext.parallelize(1 to 10).persist().count()
    GraftSession.resetCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
