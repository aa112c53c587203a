package graft

/** Scratch diagnostic: try every oracle text verbatim through spark.sql
  * and report which parse+run+match the DataFrame builder. Not part of
  * the shipped surface — used to maintain SqlSurfaceSpec's lists.
  */
object SqlSweep {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("ERROR")
    val dir = "/root/testdata/sf0.001"
    Tables.registerAll(spark, dir)
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "4096")
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.oracleSql.keys.toSeq.sorted
    names.foreach { name =>
      val res =
        try {
          val viaSql = spark.sql(SparkEntry.oracleSql(name))
          val viaDf = SparkEntry.queries(name)(spark, dir)
          val cols = viaDf.columns.sorted.toIndexedSeq
          val a = viaSql.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
          val b = viaDf.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
          if (a == b) "OK" else s"MISMATCH ${a.size} vs ${b.size}"
        } catch {
          case e: Throwable =>
            val cap = if (names.size == 1) 4000 else 110
            s"FAIL ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").replace('\n', ' ').take(cap)}"
        }
      println(s"SWEEP $name $res")
    }
    spark.stop()
  }
}
