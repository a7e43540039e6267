package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Materialize

/** Pins the data-size-derived shuffle-partition rule (the round-10
  * 100× probe's one nonlinearity was per-partition shuffle volume
  * outgrowing a FIXED partition count): every Materialize seam
  * measures its table's exact bytes and RATCHETS the session's
  * `spark.sql.shuffle.partitions` up to bytes/advisory (capped at 8×
  * the static count) so downstream shuffles keep advisory-sized
  * partitions at any tier — and releaseAll restores the static count
  * at lifecycle end. Small tiers never ratchet: their plans and
  * hash-build budgets are byte-identical to the fixed layout. */
class PartitionSizingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val Mi = 1L << 20

  test("partitionsFor: floor at static, bytes/advisory in between, cap at 8x static") {
    // small tier: never below the static count
    assert(Materialize.partitionsFor(BigInt(1), 64 * Mi, 32) == 32)
    assert(Materialize.partitionsFor(BigInt(2000) * Mi, 64 * Mi, 32) == 32)
    // the probe's regime: 100x distcc-class bytes want > 32 partitions
    assert(Materialize.partitionsFor(BigInt(2432) * Mi, 64 * Mi, 32) == 38)
    assert(Materialize.partitionsFor(BigInt(4096) * Mi, 64 * Mi, 32) == 64)
    // cap: a decade past the advisory regime stops at 8x static
    assert(Materialize.partitionsFor(BigInt(1) << 50, 64 * Mi, 32) == 256)
    // ceiling division, not truncation
    assert(Materialize.partitionsFor(BigInt(2048) * Mi + 1, 64 * Mi, 32) == 33)
  }

  test("the cap anchors on the CONFIGURED partition count, not an executor census") {
    // dynamic-allocation contract (PartitionHeadroom scaladoc): the 8×
    // cap scales with whatever `spark.sql.shuffle.partitions` the
    // deployment configured as its steady-state core budget — a live
    // executor count would make the cap breathe with the workload
    assert(Materialize.partitionsFor(BigInt(1) << 50, 64 * Mi, 8) == 64)
    assert(Materialize.partitionsFor(BigInt(1) << 50, 64 * Mi, 200) == 1600)
  }

  test("the seam ratchets the session layout from measured bytes and releaseAll restores it") {
    val key = "spark.sql.shuffle.partitions"
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevAdv = spark.conf.getOption(adv)
    val static = spark.conf.get(key)
    // shrink the advisory so a ~3 MB measured table is "big": the
    // measurement is UnsafeRow bytes (uncompressed), so a constant
    // payload still measures at full width
    spark.conf.set(adv, "131072b")
    try {
      val big = (0 until 30000)
        .map(i => (i.toLong, "p" * 100)).toDF("k", "s")
      Materialize(big, "ratchet_probe")
      val ratcheted = spark.conf.get(key).toInt
      assert(ratcheted > static.toInt,
        s"measured ~3MB over a 128KB advisory must widen $static")
      assert(ratcheted <= 8 * static.toInt) // never past the cap
      // monotone ACCUMULATION: a later table grows the working-set sum
      // (downstream shuffles move the whole set, not the max table) —
      // the layout never narrows mid-lifecycle, and a second
      // same-sized table widens it further (pre-cap)
      Materialize((0 until 10).map(i => (i.toLong, "q")).toDF("k", "s"),
        "ratchet_probe_small")
      assert(spark.conf.get(key).toInt >= ratcheted)
      Materialize(big, "ratchet_probe_again")
      val accumulated = spark.conf.get(key).toInt
      assert(accumulated > ratcheted || accumulated == 8 * static.toInt,
        s"second ~3MB table must widen the working-set layout past $ratcheted")
      // lifecycle end restores the static count
      Materialize.releaseAll(spark)
      assert(spark.conf.get(key) == static)
      // and a small-tier lifecycle never ratchets at the real advisory
      spark.conf.set(adv, "64MB")
      Materialize(big, "ratchet_probe2")
      assert(spark.conf.get(key) == static)
    } finally {
      Materialize.releaseAll(spark)
      spark.conf.set(key, static)
      prevAdv match {
        case Some(v) => spark.conf.set(adv, v)
        case None => spark.conf.unset(adv)
      }
    }
  }
}
