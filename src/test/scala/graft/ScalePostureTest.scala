package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ScalePosture.initialPartitions]]' floor/target/cap
  * resolution at each regime boundary (pure arithmetic, no SparkSession).
  */
class ScalePostureTest extends AnyFunSuite {
  import ScalePosture.{initialPartitions, MIN_BYTES, TARGET_BYTES, MAX_PARTS}

  private val GiB = 1L << 30

  test("below the 1 GiB floor no posture is set") {
    assert(initialPartitions(0L, 4) === None)
    assert(initialPartitions(MIN_BYTES - 1, 4) === None)
  }

  test("at the floor a corpus under cores x target resolves to the core count") {
    assert(TARGET_BYTES === (128L << 20))
    // 1 GiB / 128 MiB = 8 partitions < 16 cores
    assert(initialPartitions(MIN_BYTES, 16) === Some(16L))
    assert(initialPartitions(2 * GiB, 32) === Some(32L))
  }

  test("in the linear band partitions are input bytes per target") {
    assert(initialPartitions(MIN_BYTES, 4) === Some(8L))
    assert(initialPartitions(10 * GiB, 4) === Some(80L))
    assert(initialPartitions(10 * GiB + TARGET_BYTES - 1, 4) === Some(80L))
  }

  test("the partition count stops at the cap") {
    assert(MAX_PARTS === 4096L)
    assert(initialPartitions(MAX_PARTS * TARGET_BYTES, 4) === Some(MAX_PARTS))
    // 1 TiB / 128 MiB = 8192 > cap
    assert(initialPartitions(1024 * GiB, 4) === Some(MAX_PARTS))
    assert(initialPartitions(1024 * GiB, 8192) === Some(MAX_PARTS))
  }
}
