package graft

/** Dev tool: print formatted physical plans for selected queries so
  * pushdown / broadcast / shuffle structure can be audited.
  * Usage: runMain graft.PlanCheck <sfDir> <queryName>... */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q01_pricing_agg", "q03_join_revenue")
    val spark = Harness.session(8, 8, "graft-plancheck")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      val gate = SparkEntry.gates.find(_.name == n)
        .getOrElse(sys.error(s"no gate named $n"))
      gate.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
