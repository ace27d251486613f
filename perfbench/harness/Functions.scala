package perfbench

import graft.functions._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.{LinkedHashMap => JMap}

/** Per-expression throughput of the engine's native Catalyst functions:
  * one single-expression projection each, forced over a fixture column
  * replicated to [[Rows]] rows and checkpointed beforehand, so the timed
  * job is the expression and the scan of cached rows.
  */
object Functions {
  val Rows = 100000

  def run(spark: SparkSession, fixture: String): JMap[String, AnyRef] = {
    Seq[SparkSession => Unit](
      ArrayDot.ensureRegistered, SrpBuckets.ensureRegistered, PqCodes.ensureRegistered,
      TokenRuns.ensureRegistered, ShingleRuns.ensureRegistered, BpeMergeRuns.ensureRegistered
    ).foreach(_(spark))
    val reg = spark.sessionState.functionRegistry
    val winnow = FunctionIdentifier(WinnowRuns.name)
    if (!reg.functionExists(winnow))
      reg.registerFunction(winnow,
        new ExpressionInfo(classOf[WinnowRuns].getName, null, WinnowRuns.name), WinnowRuns.builder)

    def replicated(df: DataFrame): DataFrame = {
      val n = df.count()
      df.crossJoin(spark.range((Rows + n - 1) / n).toDF("rep")).drop("rep").limit(Rows)
        .localCheckpoint(eager = true)
    }
    val docs = replicated(spark.read.parquet(s"$fixture/documents.parquet").select("text"))
    val vecs = replicated(spark.read.parquet(s"$fixture/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v")))
    val toks = docs.select(expr("graft_token_runs(text, true)").as("t")).localCheckpoint(eager = true)
    val rng = new scala.util.Random(7)
    val (subDim, subspaces, nCodes) = (8, 8, 16)
    val codes = Array.tabulate(nCodes)(_.toLong)
    val cvs = Array.fill(subspaces * nCodes)(Array.fill(subDim)(rng.nextGaussian()))
    val cnrms = cvs.map(v => math.sqrt(v.map(x => x * x).sum))
    val cases = Seq(
      "ArrayDot" -> vecs.select(expr("graft_array_dot(v, v)")),
      "SrpBuckets" -> vecs.select(expr("graft_srp_buckets(v, 8, 4, 64)")),
      "PqCodes" -> vecs.select(call_function(PqCodes.name, col("v"), lit(subDim),
        typedLit(codes), typedLit(cvs), typedLit(cnrms))),
      "TokenRuns" -> docs.select(expr("graft_token_runs(text, true)")),
      "ShingleRuns" -> toks.select(expr("graft_shingle_runs(t, 3)")),
      "BpeMergeRuns" -> toks.select(expr("graft_bpe_merge_runs(t, 'the', 'a')")),
      "WinnowRuns" -> docs.select(expr("graft_winnow_runs(text, 8, 4)")))
    val out = new JMap[String, AnyRef]
    cases.foreach { case (name, df) =>
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      out.put(name, Double.box(Rows / ((System.nanoTime() - t0) / 1e9)))
    }
    Seq(docs, vecs, toks).foreach(_.unpersist(blocking = true))
    out
  }
}
