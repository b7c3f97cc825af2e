package graft

/** Named-query CLI — the analytics surface (SURVEY.md §7.1 item 8,
  * replacing the reference's Streamlit data layer):
  *
  *   sbt "runMain graft.Run q01_pricing_summary /root/testdata/sf0.01 [n]"
  *
  * Prints the first n rows (default 20) and the formatted plan when
  * GRAFT_EXPLAIN=1.
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: Run <query> [sfDir] [n]; queries: ${queries.Catalog.all.keys.toSeq.sorted.mkString(", ")}")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val n = if (args.length > 2) args(2).toInt else 20
    val spec = queries.Catalog.all.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${queries.Catalog.all.keys.toSeq.sorted.mkString(", ")}"))
    val spark = Harness.session(Harness.cpus("4"))
    plans.GraftExtensions.register(spark)
    val df = spec.fn(spark, sfDir)
    if (sys.env.get("GRAFT_EXPLAIN").contains("1")) df.explain("formatted")
    df.show(n, truncate = false)
    spark.stop()
  }
}
