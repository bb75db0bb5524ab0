package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.Hashes

/** `graftexpr.BloomAgg`, the per-group bloom build behind the sharded
  * URL-seen filter. */
class BloomAggSpec extends AnyFunSuite {

  private def keys(seed: Long, n: Int): Seq[Long] =
    (0 until n).map(i => Hashes.mix(seed, i.toLong))

  test("bloom_agg aggregate: grouped distributed build is readFrom/putLong-compatible") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ks = keys(20L, 4000)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(2000, 0.01)
    val shards = ks.toDF("h").repartition(8)
      .withColumn("shard", pmod($"h", lit(4L)).cast("int"))
      .groupBy($"shard")
      .agg(org.apache.spark.sql.graftexpr.BloomAgg($"h", 2000, numBits).as("b"))
      .as[(Int, Array[Byte])].collect().toMap
    assert(shards.size === 4)
    val filters = shards.view.mapValues(b =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b))).toMap
    // no false negatives within each key's shard
    ks.foreach { k =>
      val s = math.floorMod(k, 4L).toInt
      assert(filters(s).mightContainLong(k), s"lost $k in shard $s")
    }
    // merge compatibility with a filter of the same (expectedItems, numBits)
    val extra = org.apache.spark.util.sketch.BloomFilter.create(2000, numBits)
    extra.putLong(123456789L)
    filters(0).mergeInPlace(extra)
    assert(filters(0).mightContainLong(123456789L))
  }
}
