package graft

/** Plan inspector: dumps `explain("formatted")` for the named queries
  * (default: a scan/join/agg cross-section) so scan pushdown
  * (`PushedFilters`), column pruning (`ReadSchema`), broadcast
  * choices, and WholeStageCodegen spans can be reviewed per change.
  *
  *   sbt "runMain graft.Plans [sfDir] [query ...]"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_filter_project", "q_join3_topk", "q_join6_star",
        "q1_agg", "q_dedup_minhash_lsh", "q_embed_cosine_pairs",
        "q_ann_lsh", "q_topk")
    val spark = LocalSpark.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
