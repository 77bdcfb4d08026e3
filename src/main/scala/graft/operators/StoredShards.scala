package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.CorpusSink

/** The one lifecycle of a stored, shard-partitioned index — BM25
  * postings ([[Retrieval]]), IVF×int8 vectors and graph edges
  * ([[AnnIndex]]): append shards, tombstone ids, mask at read, purge
  * the touched shards, compact the oversized ones. A family is a
  * parameterization of it: its [[Table]]s, the membership source its
  * deletes probe, and a fix-up applied to every rewritten shard
  * (BM25's bucket-local df recount, the graph's DiskANN re-rank).
  *
  * Every table is read with the schema stated next to its writer, so
  * building a serving frame runs no parquet schema job, and a table
  * whose every shard was purged still reads as an empty frame.
  *
  * Tombstones live in the `root/deletes` sidecar: one id column, each
  * delete batch appended as its own small file, masked at read by a
  * left anti-join and folded into a physical rewrite by [[purge]].
  */
object StoredShards {

  // ---- Hadoop FS ----

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Deletes a file or a tree; a missing path is a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.delete(p, true)
  }

  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val (f, p) = fs(spark, from)
    if (!f.rename(p, new Path(to)))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }

  /** Whether `path` holds parquet files directly rather than in shard
    * directories: an unpartitioned write. */
  def flat(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p) && f.listStatus(p).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Names of the directories directly under `path`; none when absent. */
  def subdirs(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** A driver-sized text sidecar (centroids, manifest), replaced whole:
    * plain FS IO, never a Spark job. */
  def writeLines(spark: SparkSession, path: String, lines: Seq[String]): Unit = {
    val (f, p) = fs(spark, path)
    f.delete(p, true) // parquet-vintage dir or stale file
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(f.create(p, true), "UTF-8"))
    try lines.foreach(out.println) finally out.close()
  }

  def readLines(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
    finally in.close()
  }

  // ---- tables ----

  /** A stored table: the `part` directory under an index root, written
    * and read with the schema `ddl` states (the shard column last, as
    * a partitioned read returns it), partitioned by `shardCol`, in-file
    * sorted by `sortCol`. A row dies when any of its `idCols` is
    * tombstoned. */
  final case class Table(part: String, ddl: String, shardCol: String,
                         sortCol: String, idCols: String*) {
    val schema: StructType = StructType.fromDDL(ddl)
    def path(root: String): String = s"$root/$part"
    def read(spark: SparkSession, root: String): DataFrame =
      spark.read.schema(schema).parquet(path(root))
    private def conform(rows: DataFrame): DataFrame =
      rows.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    def write(rows: DataFrame, root: String, filesPerShard: Int): Unit =
      CorpusSink.writeParquet(conform(rows), path(root), shardCol, sortCol, filesPerShard)
    def append(rows: DataFrame, root: String, filesPerShard: Int): Unit =
      CorpusSink.appendShards(conform(rows), path(root), shardCol, sortCol, filesPerShard)
    /** Overwrites only the shards present in `rows`. */
    def refresh(rows: DataFrame, root: String, filesPerShard: Int): Unit =
      CorpusSink.refreshShards(conform(rows), path(root), shardCol, sortCol, filesPerShard)
    /** Replaces `shards` by `rows`, staged beside and swapped per shard. */
    def swap(rows: DataFrame, root: String, shards: Seq[Int], filesPerShard: Int,
             dropDrained: Boolean): Unit =
      CorpusSink.swapShards(conform(rows), path(root), shards.map(s => s"$shardCol=$s"),
        shardCol, sortCol, filesPerShard, dropDrained)
  }

  /** An exact live-membership sidecar: one row per live `id`, bucketed
    * by `nbucket = pmod(hash(id), nBuckets)` so a purge rewrites only
    * the buckets that held a deleted id. */
  def members(part: String, id: String): Table =
    Table(part, s"$id BIGINT, nbucket INT", "nbucket", id, id)

  def writeMembers(t: Table, ids: DataFrame, root: String, nBuckets: Int,
                   append: Boolean): Unit = {
    val id = t.idCols.head
    val rows = ids.select(col(id).cast("long").as(id))
      .withColumn(t.shardCol, pmod(hash(col(id)), lit(nBuckets)))
    if (append) t.append(rows, root, 1) else t.write(rows, root, 1)
  }

  // ---- tombstones ----

  private[operators] def deletes(root: String): String = s"$root/deletes"

  /** The 1-RPC poll: does `root` carry any tombstone? */
  def hasDeletes(spark: SparkSession, root: String): Boolean =
    exists(spark, deletes(root))

  /** A tombstone sidecar within this footprint is broadcast into the
    * masks and purges; past it (bulk erasures) the joins hash instead
    * of forcing a multi-GB broadcast. */
  private val BroadcastBytes = 32L << 20

  /** The distinct tombstoned ids, renamed to the column each join
    * needs and broadcast-hinted by the sidecar's size (polled once). */
  final class Dels private[StoredShards] (val spark: SparkSession, ids: DataFrame,
                                          small: Boolean) {
    def apply(c: String): DataFrame = {
      val d = ids.toDF(c)
      if (small) broadcast(d) else d
    }
  }

  private[operators] def tombstones(spark: SparkSession, root: String, id: String): Dels = {
    val (f, p) = fs(spark, deletes(root))
    new Dels(spark, spark.read.schema(s"$id BIGINT").parquet(deletes(root)).distinct(),
      f.getContentSummary(p).getLength <= BroadcastBytes)
  }

  /** `rows` minus every row whose `on` columns (default: `id`) hold a
    * tombstoned id; `rows` itself when no delete has run. */
  def mask(rows: DataFrame, root: String, id: String, on: String*): DataFrame =
    if (!hasDeletes(rows.sparkSession, root)) rows
    else {
      val dels = tombstones(rows.sparkSession, root, id)
      (if (on.isEmpty) Seq(id) else on).foldLeft(rows)((r, c) =>
        r.join(dels(c), Seq(c), "left_anti"))
    }

  /** Ids a delete batch localizes on the driver; a larger batch takes
    * the on-disk staged path, so no id list rides the driver or the
    * plan as a literal. */
  val BulkThreshold = 10000

  /** Tombstones the ids of `ids` (column `id`) that are members of
    * `members` and not tombstoned yet, so a replayed or unknown id
    * changes nothing. `members` holds (id, measure) rows; `None`
    * tombstones every fresh id (a legacy index without a membership
    * source: an unprovable id must still be masked). A batch up to
    * [[BulkThreshold]] ids is probed with an `isin` filter and the
    * fresh ids localized on the driver before the append (the plan
    * reads the very sidecar the write extends); a larger one semi-joins
    * and stages to `root/_delete_stage`. Returns (fresh ids, Σ measure)
    * for the family's own ledger. */
  def tombstone(ids: DataFrame, root: String, id: String,
                members: Option[DataFrame]): (Long, Long) = {
    val spark = ids.sparkSession
    import spark.implicits._
    val batch = ids.select(col(id).cast("long").as(id))
    // one job decides the path AND yields the small path's id set
    val rows = batch.limit(BulkThreshold + 1).collect()
    if (rows.isEmpty) return (0L, 0L)
    val bulk = rows.length > BulkThreshold
    val probe = rows.map(_.getLong(0)).distinct
    val candidates = members match {
      case Some(m) if bulk => m.join(batch, Seq(id), "left_semi")
      case Some(m) => m.filter(col(id).isin(probe.toSeq.map(Long.box): _*))
      case None => batch.withColumn("m", lit(0L))
    }
    val fresh = mask(candidates.toDF(id, "m"), root, id).distinct()
    def append(fresh: DataFrame): Unit =
      fresh.select(col(id)).coalesce(1).write.mode("append").parquet(deletes(root))
    if (!bulk) {
      val got = fresh.collect() // delete-batch-sized
      if (got.nonEmpty) append(got.map(_.getLong(0)).toSeq.toDF(id))
      (got.length.toLong, got.iterator.map(_.getLong(1)).sum)
    } else {
      // a crash between stage and append leaves only a staging dir the
      // next bulk delete overwrites
      val stage = s"$root/_delete_stage"
      fresh.write.mode("overwrite").parquet(stage)
      val staged = spark.read.schema(s"$id BIGINT, m BIGINT").parquet(stage)
      val r = staged.agg(count(lit(1)), coalesce(sum(col("m")), lit(0L))).head()
      if (r.getLong(0) > 0) append(staged)
      delete(spark, stage)
      (r.getLong(0), r.getLong(1))
    }
  }

  // ---- purge and compaction ----

  /** Physical purge of `root`'s tombstones: `rewrite` purges the
    * family's main table ([[purgeShards]]), each membership `sidecars`
    * table is purged the same way, and the tombstone file is dropped
    * last, so a crash between the steps leaves a correct, still-masked
    * index. Served results cannot change: the mask already hid exactly
    * these rows. Returns `rewrite`'s shards; none without tombstones. */
  def purge(spark: SparkSession, root: String, id: String, sidecars: Table*)
           (rewrite: Dels => Seq[Int]): Seq[Int] =
    if (!hasDeletes(spark, root)) Seq.empty
    else {
      val dels = tombstones(spark, root, id)
      val touched = rewrite(dels)
      sidecars.foreach(purgeShards(_, root, dels, filesPerShard = 1))
      delete(spark, deletes(root))
      touched
    }

  /** Rewrites only the shards of `t` that hold a row with a tombstoned
    * id or receive an `added` row: their surviving rows plus the added
    * ones, through `fixUp`. A shard left without rows is removed;
    * every other shard's files survive byte-identical. A table not on
    * disk is skipped. Returns the rewritten shard values. */
  def purgeShards(t: Table, root: String, dels: Dels, filesPerShard: Int,
                  added: Option[DataFrame] = None,
                  fixUp: DataFrame => DataFrame = identity): Seq[Int] = {
    if (!exists(dels.spark, t.path(root))) return Seq.empty
    val stored = t.read(dels.spark, root)
    val shard = col(t.shardCol)
    val touched = (t.idCols.map(c => stored.join(dels(c), Seq(c), "left_semi").select(shard))
        ++ added.map(_.select(shard)))
      .reduce(_ union _).distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) {
      val kept = t.idCols.foldLeft(stored.filter(shard.isin(touched: _*)))((r, c) =>
        r.join(dels(c), Seq(c), "left_anti"))
      val rows = added.fold(kept)(a => kept.unionByName(a.filter(shard.isin(touched: _*))))
      t.swap(fixUp(rows), root, touched, filesPerShard, dropDrained = true)
    }
    touched
  }

  /** The maintenance valve for append file growth: rewrites, through
    * `fixUp`, only the shards of `t` holding more than `maxFiles` files
    * (a driver-side listing picks them; no row is read for that).
    * Returns the compacted shard values. */
  def compact(spark: SparkSession, t: Table, root: String, filesPerShard: Int,
              maxFiles: Int, fixUp: DataFrame => DataFrame = identity): Seq[Int] = {
    val over = CorpusSink.oversizedShards(spark, t.path(root), t.shardCol, maxFiles)
      .map(_.toInt)
    if (over.nonEmpty)
      t.swap(fixUp(t.read(spark, root).filter(col(t.shardCol).isin(over: _*))),
        root, over, filesPerShard, dropDrained = false)
    over
  }
}
