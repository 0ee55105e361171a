package graft

/** Plan-inspection main: prints the formatted physical plan of the named
  * queries (or a default headline set) so pushdown / broadcast / WSCG can
  * be reviewed. Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_agg_pricing", "q07_join_chain5", "q08_join_self",
        "q14_sort_topk", "q17_pred_range", "q25_optimade_part",
        "q37_dedup_minhash", "q39_embed_topk", "q44_events_window")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
