package graft.queries

import graft.{RegistryRunner, SparkSpecBase}

/** Shard count is a pure memory knob for q114's bloom prefilter: S
  * hash-partitioned sketches, each span probed against its own shard's
  * sketch, give exactly the single-sketch rows. */
class BloomShardSpec extends SparkSpecBase {

  test("bloomIncrement with 4 sketch shards returns the 1-shard rows at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    try {
      val single = Curation4.bloomIncrement(spark, dir, shards = 1).collect().toSeq
      val sharded = Curation4.bloomIncrement(spark, dir, shards = 4).collect().toSeq
      assert(single.exists(_.getAs[Long]("n_shared") > 0L), "no doc shares a span: the check is vacuous")
      assert(sharded == single)
    } finally RegistryRunner.sweep(spark)
  }
}
