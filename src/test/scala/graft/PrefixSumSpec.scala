package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.operators.PrefixScan

/** The distributed prefix-scan kernel behind the CDF, rank and AUC
  * family and the q162/q246 high-water marks: each entry point must
  * equal the sequential fold for ANY input distribution and ANY input
  * partitioning — range-partition boundaries are an implementation
  * detail the result can never see. Each property runs over generated
  * inputs and a few fixed ones (empty and one-row inputs among them:
  * an empty input yields an empty frame with the output schema), and
  * checks the result again under `repartition(n)`. The rank property
  * uses q307's (k, doc_id) composite order. Two example tests pin
  * `runningSums` on three seeded skewed inputs and on a reversed
  * 500-row input read through 13 partitions.
  */
class PrefixSumSpec extends SparkSpec {
  import PrefixSumSpec._

  /** Runs `prop` over `gen` and every `fixed` input. */
  private def check[A](gen: Gen[A], fixed: Seq[A])(prop: A => Prop): Unit = {
    fixed.foreach { a =>
      val res = prop(a)(Gen.Parameters.default)
      assert(res.success, s"fixed input failed: ${res.labels.mkString("; ")}")
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(16).withWorkers(1),
      Prop.forAllNoShrink(gen)(prop))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** `scan(df)` collected, and again over `df.repartition(n)`. */
  private def bothLayouts[A](df: DataFrame, n: Int)(scan: DataFrame => DataFrame)(
      read: org.apache.spark.sql.Row => A): (Seq[String], Seq[A], Seq[A]) = {
    val plain = scan(df)
    (plain.columns.toSeq, plain.collect().toSeq.map(read),
      scan(df.repartition(n)).collect().toSeq.map(read))
  }

  /** `got` and the repartitioned `again` both equal the sorted `want`,
    * and the output columns are `wantCols`. */
  private def agrees[A: Ordering](cols: Seq[String], wantCols: Seq[String],
      got: Seq[A], again: Seq[A], want: Seq[A], n: Int): Prop = {
    def diff(g: Seq[A]) = s"${g.size} rows vs ${want.size}, first difference " +
      g.sorted.zip(want).find { case (a, b) => a != b }
    (cols == wantCols) :| s"columns $cols" &&
      (got.sorted == want) :| diff(got) &&
      (again.sorted == want) :| s"under repartition($n): ${diff(again)}"
  }

  test("inclusive running sums equal the sequential fold") {
    import spark.implicits._
    check(sumInputs, sumFixed) { case (rows, n) =>
      val (cols, got, again) = bothLayouts(rows.toDF("cents", "d1", "d2"), n)(
        PrefixScan.runningSums(_, Seq("cents"), "c1" -> col("d1"), "c2" -> col("d2")))(
        r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      agrees(cols, Seq("cents", "d1", "d2", "c1", "c2"), got, again, sequentialSums(rows), n)
    }
  }

  /** (cents, c1, c2) of `runningSums` over (cents, d1, d2) rows. */
  private def cumulative(df: DataFrame): Set[(Long, Long, Long)] =
    PrefixScan.runningSums(df, Seq("cents"), "c1" -> col("d1"), "c2" -> col("d2"))
      .select(col("cents"), col("c1"), col("c2")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("cumulative counts equal the sequential fold across seeds and skews") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // skewed value domain: clustered keys + outliers, duplicate-free
      val n = 200 + trial * 137
      val keys = rnd.shuffle(
        (1 to n).map(i => if (i % 7 == 0) i * 1000000L else i.toLong)).toVector
      val rows = keys.map(k =>
        (k, rnd.nextInt(5).toLong, rnd.nextInt(5).toLong))
      val got = cumulative(rows.toDF("cents", "d1", "d2"))
      assert(got == sequentialSums(rows).toSet, s"trial $trial diverged")
    }
  }

  test("result is invariant under input partitioning") {
    import spark.implicits._
    val rows = (1L to 500L).map(k => (k * 3, k % 4, k % 3))
    val base = cumulative(rows.toDF("cents", "d1", "d2"))
    val scrambled = cumulative(rows.reverse.toDF("cents", "d1", "d2").repartition(13))
    assert(base == scrambled)
    assert(base == sequentialSums(rows).toSet)
  }

  test("strictly-earlier max equals the sequential fold on duplicate keys") {
    import spark.implicits._
    check(maxInputs, maxFixed) { case (rows, n) =>
      val (cols, got, again) = bothLayouts(rows.toDF("acc", "tv"), n)(
        PrefixScan.earlierMax(_, "acc", "prev" -> col("tv")))(
        r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      agrees(cols, Seq("acc", "tv", "prev"), got, again, sequentialEarlierMax(rows), n)
    }
  }

  test("composite-order ranks equal the sequential rank") {
    import spark.implicits._
    check(rankInputs, rankFixed) { case (rows, n) =>
      val (cols, got, again) = bothLayouts(rows.toDF("k", "doc_id"), n)(
        PrefixScan.runningSums(_, Seq("k", "doc_id"), "r" -> lit(1L)))(
        r => (r.getLong(1), r.getLong(2)))
      val want = rows.sorted.map(_._2).zipWithIndex
        .map { case (d, i) => (d, i + 1L) }.sorted
      agrees(cols, Seq("k", "doc_id", "r"), got, again, want, n)
    }
  }
}

object PrefixSumSpec {

  /** (cents, c1, c2) for unique-key (cents, d1, d2) rows, by cents. */
  def sequentialSums(rows: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    rows.sortBy(_._1).scanLeft((0L, 0L, 0L)) { case ((_, c1, c2), (k, d1, d2)) =>
      (k, c1 + d1, c2 + d2)
    }.tail

  /** (acc, tv, max tv over rows with a strictly smaller acc), sorted. */
  def sequentialEarlierMax(rows: Seq[(Long, Long)]): Seq[(Long, Long, Option[Long])] =
    rows.map { case (acc, tv) =>
      (acc, tv, rows.collect { case (a, t) if a < acc => t }.maxOption)
    }.sorted

  private val parts = Gen.choose(1, 13)

  /** Sizes 0 and 1 are in every generator's range on purpose. */
  private val size = Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 6 -> Gen.choose(2, 200))

  // skewed unique keys: a dense cluster plus far outliers
  val sumInputs: Gen[(Vector[(Long, Long, Long)], Int)] = for {
    n <- size
    keys <- Gen.pick(n, (1L to 400L) ++ (1L to 40L).map(_ * 1000000L)).map(_.toVector)
    d1 <- Gen.listOfN(n, Gen.choose(0L, 4L))
    d2 <- Gen.listOfN(n, Gen.choose(0L, 4L))
    p <- parts
  } yield (keys.zip(d1).zip(d2).map { case ((k, a), b) => (k, a, b) }, p)

  /** The empty and one-row inputs; the seeded skewed and reversed
    * inputs have tests of their own in the spec. */
  val sumFixed: Seq[(Vector[(Long, Long, Long)], Int)] = Seq(
    (Vector.empty, 4),
    (Vector((7L, 2L, 3L)), 4))

  // few distinct keys, so most rows tie with others on `acc`
  val maxInputs: Gen[(Vector[(Long, Long)], Int)] = for {
    n <- size
    acc <- Gen.listOfN(n, Gen.choose(0L, 30L))
    tv <- Gen.listOfN(n, Gen.choose(-50L, 1000L))
    p <- parts
  } yield (acc.zip(tv).toVector, p)

  val maxFixed: Seq[(Vector[(Long, Long)], Int)] = Seq(
    (Vector.empty, 4),
    (Vector((5L, 9L)), 4),
    (Vector.fill(20)((3L, 1L)) ++ Vector((3L, 8L), (4L, 2L), (4L, 7L), (2L, 5L)), 3))

  // duplicate sort keys k, unique doc ids
  val rankInputs: Gen[(Vector[(Long, Long)], Int)] = for {
    n <- size
    k <- Gen.listOfN(n, Gen.choose(-20L, 20L))
    ids <- Gen.pick(n, 1L to 1000L)
    p <- parts
  } yield (k.zip(ids).toVector, p)

  val rankFixed: Seq[(Vector[(Long, Long)], Int)] = Seq(
    (Vector.empty, 4),
    (Vector((0L, 42L)), 4),
    ((1L to 300L).map(d => (d % 5, d)).toVector, 7))
}
