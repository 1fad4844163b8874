package graft

/** Plan-audit tool: print the formatted physical plan (and optionally
  * the adaptive final plan after execution) of registered queries.
  *
  * Usage: runMain graft.Explain <sfDir> <query> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Session.local()
    args.tail.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
