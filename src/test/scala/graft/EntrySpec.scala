package graft

/** The entry-point smoke: `SparkEntry.entry` returns rows. */
class EntrySpec extends SparkSpec {
  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
