package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Sessions, SparkEntry}

/** Plan-inspection CLI: print the formatted physical plans of any declared
  * query. The scale review loop (builder brief: "explain until it's the
  * plan you'd want"):
  *
  *   sbt "runMain graft.dev.Explain q01_pricing_summary q14_shipping_priority"
  *
  * A query's construction may already run actions: collects that size a
  * broadcast, and eager `localCheckpoint`s that materialize the result
  * while an operand is still persisted (q86, q114). Those plans hold the
  * joins and exchanges, and the returned frame then only scans the
  * checkpoint. So for each query this prints the [[Measure]] record of
  * its construction (wall, jobs), the executed plan of every action the
  * construction ran, in order, and last the returned frame's plan.
  *
  * Checks worth reading for: `PushedFilters`/`ReadSchema` on every scan
  * (pushdown + pruning), `BroadcastHashJoin` where a side is small,
  * `TakeOrderedAndProject` for top-k, `WindowGroupLimit` under rank
  * filters, and wide `WholeStageCodegen` spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val s = Sessions.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val registry = SparkEntry.queries
    val names = if (args.nonEmpty) args.toSeq else registry.keys.toSeq.sorted
    names.filterNot(registry.contains).foreach { name =>
      System.err.println(s"unknown query '$name'; declared queries:\n  " +
        registry.keys.toSeq.sorted.mkString("\n  "))
      s.stop(); sys.exit(2)
    }
    for (name <- names) {
      println(s"===== $name =====")
      plans(s, name, d).foreach(println)
    }
    s.stop()
  }

  /** The formatted plans of declared query `name` on `d`: one per action
    * its construction ran (each headed by the action's name, e.g.
    * `localCheckpoint:`), then the returned frame's (`returned:`). */
  def plans(s: SparkSession, name: String, d: String): Seq[String] = {
    val fn = SparkEntry.queries(name)
    var returned = ""
    val construct: Measure.Preset = (_, _) => leg => leg(name) {
      returned = fn(s, d).queryExecution.explainString(FormattedMode)
    }
    Measure.run(s, Seq(name -> construct), Seq(d), 1)
      .flatMap(_.plans) :+ s"returned: $returned"
  }
}
