package graft

import queries.{Catalog, KernelCache}

/** Bench derives its shared-cache groups from the families each query's
  * cache gets record in the warm-up pass; only the payer order
  * ([[Bench.cachePayers]]) is kept by hand. A reader missing from its
  * group was the round-9 q149 drift (it sorted before the payer and
  * silently paid a build the envelope attributed elsewhere), so the
  * record is checked against an independent derivation: construct every
  * entry ALONE on cleared caches and snapshot which families appeared
  * (kernels fill at construction time — no execution needed).
  */
class BenchGroupsSpec extends SparkSpec {

  /** family -> readers, running `families` once per catalog entry in
    * name order (construction failures are CatalogSmokeSpec's job).
    */
  private def readers(families: (() => Any) => Set[String]): Map[String, Set[String]] = {
    val byQuery = Catalog.all.toSeq.sortBy(_._1).map { case (name, spec) =>
      name -> families(() => scala.util.Try(spec.fn(spark, sf0001)))
    }
    Catalog.clearCaches(spark)
    byQuery.flatMap { case (q, fs) => fs.map(_ -> q) }
      .groupMap(_._1)(_._2).map { case (f, qs) => f -> qs.toSet }
  }

  private lazy val derived = readers { construct =>
    Catalog.clearCaches(spark); construct(); KernelCache.familiesFor(spark)
  }

  test("touch-recorded cache families equal the clear-and-construct derivation") {
    Catalog.clearCaches(spark)
    val recorded = readers(construct => KernelCache.recording(construct())._2)
    assert(Set("als_model", "gbt_model").subsetOf(derived.keySet))
    assert(recorded == derived)
  }

  test("every cache family has a canonical payer that registers it on cleared caches") {
    // `derived` constructed each entry alone on cleared caches, so a
    // payer among a family's readers registers the family by itself
    val paidBy = derived.map { case (fam, qs) => fam -> Bench.cachePayers.find(qs) }
    assert(paidBy.forall(_._2.nonEmpty), s"families without a payer: $paidBy")
    assert(Bench.cachePayers.toSet == paidBy.values.flatten.toSet,
      s"Bench.cachePayers entries that pay for no family: $paidBy")
  }
}
