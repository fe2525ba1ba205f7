package graft.dev

import graft.{Sessions, SparkEntry}

/** Plan-inspection CLI: print the formatted physical plan of any declared
  * query. The scale review loop (builder brief: "explain until it's the
  * plan you'd want"):
  *
  *   sbt "runMain graft.dev.Explain q01_pricing_summary q14_shipping_priority"
  *
  * Checks worth reading for: `PushedFilters`/`ReadSchema` on every scan
  * (pushdown + pruning), `BroadcastHashJoin` where a side is small,
  * `TakeOrderedAndProject` for top-k, `WindowGroupLimit` under rank
  * filters, and wide `WholeStageCodegen` spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val s = Sessions.local()
    // show the EAGER subtree of ckpt-materializing queries (q86/q114)
    // instead of a one-line checkpoint scan — plan-dump only, see the
    // graft.queries.ckpt scaladoc
    s.conf.set("graft.explain.noCheckpoint", "true")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val registry = SparkEntry.queries
    val names = if (args.nonEmpty) args.toSeq else registry.keys.toSeq.sorted
    for (name <- names) {
      println(s"===== $name =====")
      registry.get(name) match {
        case Some(fn) => fn(s, d).explain("formatted")
        case None =>
          System.err.println(s"unknown query '$name'; declared queries:\n  " +
            registry.keys.toSeq.sorted.mkString("\n  "))
          s.stop(); sys.exit(2)
      }
    }
    s.stop()
  }
}
