package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.operators.CoOccurrence

class CoOccurrenceSpec extends SparkSpec {

  test("uncapped pairs match the q14 formulation on fixtures (J4)") {
    val li = Tables.lineitem(spark, sf0001)
    val viaOp = CoOccurrence.topPairs(li, "l_orderkey", "l_partkey", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaCatalog = graft.queries.Catalog.all("q14_part_pairs")
      .fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaOp.toSeq == viaCatalog.toSeq)
  }

  test("item cap bounds per-key fan-out deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L), // 4 items → 6 pairs
      (2L, 10L), (2L, 20L),                        // under cap → exact
    ).toDF("k", "item")
    val exact = CoOccurrence.pairs(df, "k", "item").agg(sum("cnt")).head().getLong(0)
    val capped = CoOccurrence.pairs(df, "k", "item", Some(2))
    assert(exact == 7) // 6 + 1
    // cap=2 keeps the 2 smallest items per key → 1 pair per key
    val rows = capped.orderBy("i1", "i2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((10L, 20L, 2L)))
    // deterministic across reruns
    val again = CoOccurrence.pairs(df, "k", "item", Some(2))
      .orderBy("i1", "i2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("pairs equals the reference formulation row for row (random keys, caps None/1/2/3)") {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(24).withWorkers(1),
      Prop.forAllNoShrink(CoOccurrenceSpec.genRows, CoOccurrenceSpec.genCap) {
        (rows, cap) =>
          import spark.implicits._
          val df = rows.toDF("k", "item")
          def collected(p: DataFrame) = p.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
          val got = collected(CoOccurrence.pairs(df, "k", "item", cap))
          val want = collected(CoOccurrenceSpec.Reference.pairs(df, "k", "item", cap))
          (got == want) :| s"cap=$cap got=$got want=$want"
      })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("pairs shuffles the (key, item) projection once, deduped map-side, with no self-join (capped and uncapped)") {
    withAuditConf {
      // a persisted co_pairs kernel would stand in for the whole plan
      graft.queries.Catalog.clearCaches(spark)
      val li = Tables.lineitem(spark, sf0001)
      Seq(None, Some(1000)).foreach { cap =>
        val plan = CoOccurrence.pairs(li, "l_orderkey", "l_partkey", cap)
          .queryExecution.executedPlan
        def shuffles(p: SparkPlan) = p.collect { case e: ShuffleExchangeLike => e }
        assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
          s"cap=$cap: expected no join:\n$plan")
        assert(shuffles(plan).size == 2, s"cap=$cap: the key grouping plus the pair rollup:\n$plan")
        val byKey = shuffles(plan).filter(e => shuffles(e).size == 1)
        assert(byKey.size == 1 &&
          byKey.head.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"cap=$cap: repeated rows drop before the key exchange:\n$plan")
      }
    }
  }
}

object CoOccurrenceSpec {

  /** Keys 0-4 over items 0-7 (duplicate rows and single-item keys by
    * chance), plus keys 10-12 that only ever hold item 3, repeated.
    */
  val genRows: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    multi <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 7L)))
    singles <- Gen.listOf(Gen.zip(Gen.choose(10L, 12L), Gen.const(3L)))
  } yield multi ++ singles

  val genCap: Gen[Option[Int]] = Gen.oneOf(None, Some(1), Some(2), Some(3))

  /** The two-exchange formulation `CoOccurrence.pairs` replaced: dedup
    * shuffled by (key, item), then the window and self-join by key.
    */
  object Reference {
    def pairs(df: DataFrame, keyCol: String, itemCol: String,
        maxItemsPerKey: Option[Int] = None): DataFrame = {
      val base = df.select(col(keyCol).as("k"), col(itemCol).as("item")).distinct()
      val capped = maxItemsPerKey match {
        case None => base
        case Some(cap) =>
          val w = Window.partitionBy(col("k")).orderBy(col("item"))
          base.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= cap).drop("__rn")
      }
      capped.as("a").join(capped.as("b"),
          col("a.k") === col("b.k") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
        .agg(count(lit(1)).as("cnt"))
    }
  }
}
