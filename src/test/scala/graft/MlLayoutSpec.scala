package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.MlCatalog.{alsBlocks, gbtParts, parts}

/** The ML fits' layout rule: the GBT input's partition count and ALS's
  * block count are functions of the input's row count, pinned so that
  * sf0.1 keeps the layouts it was tuned at (16 partitions, 10 blocks).
  */
class MlLayoutSpec extends AnyFunSuite {

  test("parts is the ceiling of rows per part, at least one") {
    assert(parts(0L, 10L) == 1)
    assert(parts(1L, 10L) == 1)
    assert(parts(10L, 10L) == 1)
    assert(parts(11L, 10L) == 2)
    assert(parts(20L, 10L) == 2)
    assert(parts(21L, 10L) == 3)
  }

  test("GBT input partitions: 16 at sf0.1, 2 at sf0.01, 1 at sf0.001") {
    assert(gbtParts(600000L) == 16)
    assert(gbtParts(60000L) == 2)
    assert(gbtParts(6000L) == 1)
    assert(gbtParts(0L) == 1)
  }

  test("ALS blocks: Spark's default 10 at sf0.1, 1 at sf0.01 and sf0.001") {
    assert(alsBlocks(599351L) == 10)
    assert(alsBlocks(59391L) == 1)
    assert(alsBlocks(5382L) == 1)
  }
}
