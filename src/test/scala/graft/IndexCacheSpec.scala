package graft

import org.apache.spark.storage.StorageLevel

import graft.cdc.CdcSim
import graft.sim.{DataQuantizers, IndexCache}
import graft.sources.Tables

/** The artifact store: memo identity, one key per CDC layer, what is
  * persisted and what is not, and the clear() hook. (The rule that a
  * new SparkContext empties the store needs a second context, which the
  * shared test JVM cannot host.) */
class IndexCacheSpec extends SparkSpec {

  test("a second ask returns the same instance and does not build") {
    var builds = 0
    def memo() = IndexCache.getOrCompute(spark, "spec-memo:a") {
      builds += 1
      new Object
    }
    assert(memo() eq memo())
    assert(builds == 1)
    var landings = 0
    def landed() = IndexCache.getOrBuild(spark, "spec-landed:a") {
      landings += 1
      spark.range(17).toDF("id")
    }
    assert(landed() eq landed())
    assert(landings == 1)
  }

  test("decoded envelopes and current state are distinct landed frames") {
    val env = CdcSim.orderEnvelopesCached(sfDir, Tables.load(spark, sfDir, "orders"))
    val decoded = CdcSim.decodedEnvelopesCached(sfDir, env)
    val state = CdcSim.currentStateCached(sfDir, env)
    assert(decoded ne state)
    assert(decoded.columns.toSeq == Seq("_env"))
    assert(state.schema == CdcSim.currentStateFromDecoded(decoded).schema)
    assert(decoded.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(state.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // a hit builds no plan: the by-name source is never evaluated
    assert(CdcSim.currentStateCached(sfDir, fail("state rebuilt on a hit")) eq state)
    assert(CdcSim.decodedEnvelopesCached(sfDir, fail("decode rebuilt on a hit")) eq decoded)
  }

  test("relations, plane arrays and partition counts stay unpersisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val emb = Tables.load(spark, sfDir, "embeddings")
    assert(Tables.load(spark, sfDir, "embeddings") eq emb)
    assert(emb.storageLevel == StorageLevel.NONE)
    Tables.loadParallel(spark, sfDir, "embeddings")
    val planes = DataQuantizers.planes(emb, 100, 4, "spec-planes")
    assert(DataQuantizers.planes(emb, 100, 4, "spec-planes") eq planes)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("clear() unpersists what getOrBuild persisted") {
    val df = IndexCache.getOrBuild(spark, "spec-clear:a")(spark.range(23).toDF("id"))
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    IndexCache.clear()
    assert(df.storageLevel == StorageLevel.NONE)
    val again = IndexCache.getOrBuild(spark, "spec-clear:a")(spark.range(23).toDF("id"))
    assert(again ne df)
  }
}
