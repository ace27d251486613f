package graft.tools

import graft.util.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: replicate an existing sf directory by an
  * integer factor with foreign-key-consistent id offsets, so the engine's
  * scaling behavior can be measured at 10× the largest driver-provided
  * fixture (`ScaleGen /root/testdata/sf0.1 /tmp/sf1 10` ≈ TPC-H sf1:
  * 6M lineitem rows, 50k documents, 20k embeddings, 1M events).
  *
  * Replication is NOT verbatim — verbatim copies would change the
  * workload's character, not just its size (every document would gain
  * `factor−1` exact duplicates, exploding near-dup pair counts
  * quadratically; every embedding would gain identical twins at
  * cosine 1). Instead each copy k:
  *  - suffixes every 3rd whitespace token of `text` with "xk": every
  *    3-shingle contains a modified token, so copies share no shingles
  *    and the near-dup pair density per document stays the fixture's;
  *  - rotates `embedding` by k positions: norm-preserving, and a random
  *    vector is near-orthogonal to its rotation, so no cross-copy
  *    near-dup/ANN structure appears;
  *  - offsets every key column (custkey/orderkey/partkey/suppkey/
  *    user_id/event_id/doc_id/vec_id) by k × a table-specific stride,
  *    consistently on both sides of every FK, so join selectivities are
  *    preserved exactly.
  * `region`/`nation` are dimension tables and copy verbatim (as at any
  * real scale factor).
  *
  * Lineage soundness: generate every fixture in ONE generation from a
  * driver-provided sf (factor ≤ 2·dim = 128 for embeddings — the
  * rotation-wrap bound below). Do NOT compose generations (ScaleGen of a
  * ScaleGen output): embedding rotations compose ADDITIVELY, so
  * second-generation copies with k1 + k2 = k1' + k2' are exact twins
  * (cosine 1), re-introducing precisely the cross-copy near-dup
  * structure the perturbation exists to avoid. (Text is composition-safe
  * — suffixes accumulate — but keep the rule uniform.)
  */
object ScaleGen {

  private val CUST = 10000000L
  private val ORD = 100000000L
  private val PART = 10000000L
  private val SUPP = 1000000L
  private val USER = 10000000L
  private val EVENT = 100000000L
  private val DOC = 10000000L
  private val VEC = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcSfDir> <dstDir> [factor=10]")
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // the factory pins UTC: the NTZ fixture branch casts naive timestamps
    // under the session TZ, so any other zone would bake shifted instants
    // into the generated fixture
    val spark = GraftSession.create()

    def read(name: String): DataFrame = graft.queries.Tables.t(spark, src, name)

    // Rotation-wrap bound (see the embeddings comment below): past 2·dim
    // copies, two copies necessarily share an effective rotation and are
    // exact cosine-1 twins. Fail fast before any write — but only when an
    // embeddings table exists at all: a fixture set without one must
    // still scale the other tables (the bound is meaningless then, and
    // the embeddings output below is simply skipped).
    val hasEmbeddings = new java.io.File(s"$src/embeddings.parquet").exists()
    if (hasEmbeddings) {
      val embHead = read("embeddings").select(size(col("embedding"))).take(1)
      require(
        embHead.nonEmpty && !embHead(0).isNullAt(0),
        s"$src/embeddings.parquet is empty or its first embedding is null - " +
          "cannot derive the rotation-wrap bound")
      val embDim = embHead(0).getInt(0)
      require(
        factor <= 2 * embDim,
        s"factor $factor exceeds the rotation-wrap bound 2*dim = ${2 * embDim}: " +
          "copies beyond it share an effective rotation (exact cosine-1 twins), " +
          "re-introducing the cross-copy near-dup structure the perturbation avoids")
    }
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).toDF("__k"))
    // Scaled tables are written as one file per core so the fixture is
    // ROW-GROUP-SPLITTABLE. The source fixture is one small file → one
    // scan partition, and the crossJoin replication inherits it, so an
    // unspread write produced ONE file with ONE row group per table —
    // parquet cannot split inside a row group, so every sf10 scan
    // collapsed onto a single task no matter what maxPartitionBytes
    // planned (measured: q_vocab_growth's 12-split scan ran 37 of its
    // 44 task-seconds in ONE task). A real corpus at any scale arrives
    // as many files; single-row-group gigafiles were a generator
    // artifact, not a property of the workload.
    def write(df: DataFrame, name: String, spread: Boolean = true): Unit = {
      val out = if (spread) df.repartition(spark.sparkContext.defaultParallelism) else df
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] wrote $name")
    }

    write(read("region"), "region", spread = false)
    write(read("nation"), "nation", spread = false)

    write(
      copies(read("customer"))
        .withColumn("c_custkey", col("c_custkey") + col("__k") * CUST)
        .drop("__k"),
      "customer")

    write(
      copies(read("supplier"))
        .withColumn("s_suppkey", col("s_suppkey") + col("__k") * SUPP)
        .drop("__k"),
      "supplier")

    write(
      copies(read("part"))
        .withColumn("p_partkey", col("p_partkey") + col("__k") * PART)
        .drop("__k"),
      "part")

    write(
      copies(read("orders"))
        .withColumn("o_orderkey", col("o_orderkey") + col("__k") * ORD)
        .withColumn("o_custkey", col("o_custkey") + col("__k") * CUST)
        .drop("__k"),
      "orders")

    write(
      copies(read("lineitem"))
        .withColumn("l_orderkey", col("l_orderkey") + col("__k") * ORD)
        .withColumn("l_partkey", col("l_partkey") + col("__k") * PART)
        .withColumn("l_suppkey", col("l_suppkey") + col("__k") * SUPP)
        .drop("__k"),
      "lineitem")

    write(
      copies(read("events"))
        .withColumn("event_id", col("event_id") + col("__k") * EVENT)
        .withColumn("user_id", col("user_id") + col("__k") * USER)
        .drop("__k"),
      "events")

    write(
      copies(read("documents"))
        .withColumn("doc_id", col("doc_id") + col("__k") * DOC)
        .withColumn(
          "text",
          when(col("__k") === 0, col("text")).otherwise(
            concat_ws(
              " ",
              transform(
                split(col("text"), "\\s+"),
                (t, i) =>
                  when(i % 3 === 0, concat(t, lit("x"), col("__k"))).otherwise(t)))))
        .withColumn("n_chars", length(col("text")))
        .drop("__k"),
      "documents")

    // Rotation index wraps at the vector dim (a raw k ≥ dim made the
    // second slice length negative — factor 100 failed the write). The
    // second wrap negates the vector instead of repeating a rotation:
    // two copies sharing an effective rotation would be EXACT twins
    // (cosine 1), re-introducing the cross-copy near-dup structure the
    // perturbation exists to avoid. Negation is norm-preserving, keeps
    // rotations near-orthogonal, and supports factors up to 2·dim (128).
    if (hasEmbeddings) {
      val dim = size(col("embedding"))
      val k = pmod(col("__k"), dim.cast("long")).cast("int")
      val rotated = concat(
        slice(col("embedding"), k + 1, dim - k),
        slice(col("embedding"), lit(1), k))
      write(
        copies(read("embeddings"))
          .withColumn("vec_id", col("vec_id") + col("__k") * VEC)
          .withColumn(
            "embedding",
            when(col("__k") < dim.cast("long"), rotated)
              .otherwise(transform(rotated, x => -x)))
          .drop("__k"),
        "embeddings")
    } else {
      println(s"[scalegen] no embeddings.parquet in $src - skipped")
    }

    GraftSession.stop(spark)
  }
}
