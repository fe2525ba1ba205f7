package graft.dev

import graft.SparkSpec

/** The plan CLI (dev/Explain.scala): the plans of the actions a query's
  * construction runs come from [[Measure]]'s listener, ahead of the
  * returned frame's. */
class ExplainSpec extends SparkSpec {

  test("q86's plans include its eager localCheckpoint segment, then the returned frame's") {
    val plans = Explain.plans(spark, "q86_dedup_span_removal", sf0001)
    val eager = plans.filter(_.startsWith("localCheckpoint: "))
    // the segment materialized while the duplicated-key set is persisted:
    // the semi join against that cached set
    assert(eager.exists(p => p.contains("LeftSemi") && p.contains("InMemoryTableScan")),
      plans.mkString("\n"))
    assert(plans.last.startsWith("returned: "), plans.last)
    assert(!plans.last.contains("LeftSemi"), "the returned frame only scans the checkpoint")
  }
}
