package graft

/** Result inspector: runs the named queries and prints their rows —
  * the quick cross-engine spot check next to the DuckDB oracle.
  *
  *   sbt "runMain graft.Show [sfDir] [query ...]"
  */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg")
    val spark = LocalSpark.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.printSchema()
      df.show(50, false)
    }
    spark.stop()
  }
}
