package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims.checkpointedRdd

import graft.operators.Rounds

/** The convergent loop's bookkeeping: every superseded round (the
  * initial table, earlier rounds, staged intermediates) leaves the block
  * store when `converge` returns, the fixed point stays readable, and a
  * loop that hits its cap fails loudly.
  */
class RoundsSpec extends SparkSpec {

  private def rddId(df: DataFrame): Int =
    checkpointedRdd(df).getOrElse(fail(s"not a checkpoint: $df")).id

  private def stored: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Halve every value per round, through a staged intermediate, until
    * all are 0 (the fixed point). Records the checkpoint of every round
    * in `rounds` and of every staged table in `staged`.
    */
  private def halving(init: DataFrame, maxRounds: Int,
      rounds: mutable.Buffer[Int], staged: mutable.Buffer[Int]) =
    Rounds.converge(init, maxRounds, "halving") { (cur, stage) =>
      val half = stage(cur.select(expr("x div 2").as("x")))
      staged += rddId(half)
      half.select(col("x"))
    } { (prev, next) =>
      rounds += rddId(next)
      prev.exceptAll(next).isEmpty
    }

  test("converge frees every superseded round and keeps the fixed point readable") {
    val init = spark.range(0, 40).select(col("id").as("x")).localCheckpoint(true)
    val (rounds, staged) = (mutable.Buffer(rddId(init)), mutable.Buffer.empty[Int])
    val (out, n) = halving(init, maxRounds = 20, rounds, staged)
    assert(n == 7, s"$n rounds") // 39 → 0 in 6 halvings, and one more to see no change
    assert(rounds.size == n + 1 && staged.size == n)
    val superseded = rounds.init.toSet ++ staged
    assert((stored & superseded).isEmpty,
      s"superseded checkpoints still stored: ${stored & superseded}")
    assert(stored.contains(rounds.last), "the fixed point's checkpoint is not stored")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq.fill(40)(0L))
  }

  test("converge fails with the loop's name when the cap is hit") {
    val init = spark.range(0, 40).select(col("id").as("x")).localCheckpoint(true)
    val e = intercept[IllegalArgumentException] {
      halving(init, maxRounds = 3, mutable.Buffer.empty, mutable.Buffer.empty)
    }
    assert(e.getMessage.contains("halving did not converge in 3 rounds"), e.getMessage)
  }
}
