package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Stored image-dedup index + incremental admission: layout (rep-only
  * thumbnails, sharded capped buckets), verdict soundness on planted
  * twins / far variants / exact copies / undecodable media, and the
  * match-witness rule. */
class ImageIndexSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDF(ids: Seq[Long]) =
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")

  private def tempDir(tag: String): String = suiteDir(s"graft_imgidx_$tag")

  test("index stores one thumbnail per exact family, sharded buckets") {
    val docs = docsDF(0L to 99L)
    val dir = tempDir("layout")
    // duplicate id 7's image under id 500 so an exact family forms
    val media = ImageDedup.withPlantedImages(docs)
      .unionByName(Seq((500L, Multimodal.plantHeader(7L, Array.emptyByteArray)))
        .toDF("doc_id", "media"))
    ImageDedup.buildIndex(media, dir)
    val thumbs = spark.read.parquet(s"$dir/reps")
    // reps only: no two stored rows share a thumbnail, and the family
    // member 500 collapsed into rep 7
    assert(thumbs.count() === thumbs.select(col("fr")).distinct().count())
    val ids = thumbs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.contains(7L) && !ids.contains(500L))
    // bucket entries: 8 per rep, directory-sharded on the bucket key
    val buckets = spark.read.parquet(s"$dir/buckets")
    assert(buckets.count() === thumbs.count() * 8)
    val shardDirs = new java.io.File(s"$dir/buckets").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty && shardDirs.length <= MediaDedup.BucketShards)
  }

  test("admission: twins flag with their source witness; far, novel and undecodable stay kept") {
    val docs = docsDF(0L to 99L)
    val dir = tempDir("admit")
    ImageDedup.buildIndex(ImageDedup.withPlantedImages(docs), dir)
    val batch = ImageDedup.plantedRecrawlBatch(docs)
      .unionByName(Seq(
        (3000006L, Multimodal.plantHeader(6L, Array.emptyByteArray)), // exact copy of 6
        (999L, "not an image".getBytes("UTF-8"))                      // undecodable
      ).toDF("doc_id", "media"))
    val res = ImageDedup.admission(batch, dir).toDF().collect()
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
