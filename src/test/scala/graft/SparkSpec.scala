package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  val Cpus = 4

  /** The mains' contract session (`GraftSession`) at [[Cpus]] threads. */
  lazy val session: SparkSession =
    graft.util.GraftSession.builder(Cpus)
      .appName("graft-test")
      // the production registration route (spark.sql.extensions=…);
      // imperative ensureRegistered calls become no-ops on this session,
      // and GraftExtensionsSpec proves the extension route alone resolves
      // the functions in a fresh child session
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.log.level", "ERROR")
      .getOrCreate()
}
