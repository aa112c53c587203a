package graft

/** Dev tool: print the formatted physical plan of registered queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...] (no names = all).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession("ERROR")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        println(s"===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
