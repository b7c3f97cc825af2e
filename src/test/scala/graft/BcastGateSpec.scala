package graft

import org.scalatest.funsuite.AnyFunSuite

import operators.Rounds.vertexBcast

/** The iterative graph kernels' broadcast gate ([[operators.Rounds]]'s
  * `gate`): a small input broadcasts without a row count, and an
  * explicitly set SPARK_GRAFT_BCAST_MAX_ROWS overrides that tier — 0 is
  * the kill switch.
  */
class BcastGateSpec extends AnyFunSuite {
  private val small = 1L << 20
  private val large = 1L << 40
  private def unread: Long = fail("the gate evaluated an input it must skip")

  test("unset: small inputs broadcast on bytes alone, large ones on the row count") {
    assert(vertexBcast(None, small, unread))
    assert(vertexBcast(None, large, 1000L))
    assert(!vertexBcast(None, large, 9000000L))
  }

  test("set: the row limit overrides the bytes tier, and 0 never broadcasts") {
    assert(!vertexBcast(Some(0L), unread, unread))
    assert(!vertexBcast(Some(100L), unread, 101L))
    assert(vertexBcast(Some(100L), unread, 100L))
  }
}
