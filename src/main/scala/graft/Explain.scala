package graft

/** Plan-audit tool: dump the formatted physical plan of one or all
  * SparkEntry queries. Usage: runMain graft.Explain <sfDir> [name...]
  * Greppable checkpoints: PushedFilters, BroadcastHashJoin,
  * WindowGroupLimit, WholeStageCodegen.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession("4", Seq(GraftSession.Utc), logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
