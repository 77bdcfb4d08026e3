package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Stored audio-dedup index + incremental admission: layout (rep-only
  * envelope prints, sharded capped buckets), verdict soundness on
  * planted twins / far variants / exact copies / undecodable media,
  * and the match-witness rule — the ImageIndexSpec one modality over. */
class AudioIndexSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDF(ids: Seq[Long]) =
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")

  private def tempDir(tag: String): String = suiteDir(s"graft_audidx_$tag")

  test("index stores one print per exact family, sharded buckets") {
    val docs = docsDF(0L to 99L)
    val dir = tempDir("layout")
    // duplicate id 7's clip under id 500 so an exact family forms
    val media = AudioDedup.withPlantedClips(docs)
      .unionByName(Seq((500L, Multimodal.plantWav(7L)))
        .toDF("doc_id", "media"))
    AudioDedup.buildIndex(media, dir)
    val prints = spark.read.parquet(s"$dir/reps")
    // reps only: no two stored rows share an envelope, and the family
    // member 500 collapsed into rep 7
    assert(prints.count() === prints.select(col("fr")).distinct().count())
    val ids = prints.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.contains(7L) && !ids.contains(500L))
    // bucket entries: 8 per rep, directory-sharded on the bucket key
    val buckets = spark.read.parquet(s"$dir/buckets")
    assert(buckets.count() === prints.count() * 8)
    val shardDirs = new java.io.File(s"$dir/buckets").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty && shardDirs.length <= MediaDedup.BucketShards)
  }

  test("admission: twins flag with their source witness; far, novel and undecodable stay kept") {
    val docs = docsDF(0L to 99L)
    val dir = tempDir("admit")
    AudioDedup.buildIndex(AudioDedup.withPlantedClips(docs), dir)
    val batch = AudioDedup.plantedRecrawlBatch(docs)
      .unionByName(Seq(
        (3000006L, Multimodal.plantWav(6L)),         // exact copy of 6
        (999L, "not a wav".getBytes("UTF-8"))        // undecodable
      ).toDF("doc_id", "media"))
    val res = AudioDedup.admission(batch, dir).toDF().collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong),
          r.getBoolean(3)))).toMap
    // near twins of 0,20,40,60,80 flag with the source as witness
    Seq(0L, 20L, 40L, 60L, 80L).foreach { src =>
      assert(res(src + 1000000L) === (("near_dup", Some(src), false)),
        s"twin of $src: ${res(src + 1000000L)}")
      // far variants stay novel
      assert(res(src + 2000000L) === (("novel", None, true)),
        s"far of $src: ${res(src + 2000000L)}")
    }
    // exact copy matches its family rep at distance 0
    assert(res(3000006L) === (("near_dup", Some(6L), false)))
    // undecodable media is kept — nothing verified against it
    assert(res(999L) === (("novel", None, true)))
    // every batch row got exactly one verdict
    assert(res.size === 12)
  }
}
