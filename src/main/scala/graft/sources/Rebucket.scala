package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partition-spec evolution (`Main rebucket`): change the table's bucket
  * count — the one layout change the catalog otherwise refuses, because the
  * bucket function is the table's identity (readers LOCATE a url with it).
  * Evolution is therefore a full REWRITE, never a metadata lie: every live
  * row is re-hashed into the new layout, the old files move aside, the new
  * tree commits as a snapshot, and `_table` records the new modulus — after
  * which storage-partitioned joins, bucket pruning, and `lookup` all use
  * the new function consistently. (Iceberg's bucket-spec evolution makes
  * the same trade: old data must be rewritten before bucket joins can
  * assume the new spec.)
  *
  * Crash safety is the house intent device ([[Recovery]]): stage the
  * rewritten tree under a hidden dir, commit an intent (`newBuckets=`,
  * `aside=`, then `adopt\t<path>` and `mv\t<path>` lines) listing every
  * aside-move and adoption, then apply. [[replay]] rolls a crashed apply
  * FORWARD.
  *
  * Like every physical rewrite, old snapshots and tags over the previous
  * layout stop being readable (their files are in the aside dir); rebucket
  * WARNS when tags exist before proceeding.
  */
object Rebucket {

  private val STAGE = "_rebucket_stage"

  def run(spark: SparkSession, tableDir: String, newBuckets: Int): (Int, Int) = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    Recovery.recover(tableDir)
    val latest = Snapshots.latestVersion(tableDir).getOrElse(
      sys.error(s"rebucket: $tableDir has no snapshots"))
    val (_, oldRel) = Snapshots.files(tableDir, latest).get
    val tags = Snapshots.tags(tableDir)
    if (tags.nonEmpty)
      System.err.println(s"[rebucket] WARNING: ${tags.size} tags reference " +
        s"the current layout and will stop being readable: " +
        tags.map(_._1).mkString(", "))
    val base = s"$tableDir/data"
    // mergeSchema: evolved extras may live only in newer files; the rewrite
    // must carry every column, null-filling rows from pre-evolution files
    val live = spark.read.option("basePath", base)
      .option("mergeSchema", "true")
      .parquet(oldRel.map(p => s"$base/$p"): _*)
    val extras = PageTable.readSchemaMeta(tableDir)
    val withExtras = extras.foldLeft(live.drop("bucket")) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val stage = new java.io.File(tableDir, STAGE)
    if (stage.exists()) Snapshots.deleteRecursively(stage)
    withExtras
      .withColumn("bucket", PageTable.bucketCol(newBuckets))
      .withColumn("day", date_format(col("day").cast("date"), "yyyy-MM-dd"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "day")
      .parquet(stage.getPath)
    val stageBase = stage.toPath
    val adopt = Snapshots.walkData(stage)
      .map(f => stageBase.relativize(f.toPath).toString).sorted
    // write-ahead intent: everything after this line is replayable
    val aside = s"rebucket-aside-v${latest}"
    Recovery.commit(tableDir, Recovery.REBUCKET,
      Seq("newBuckets" -> newBuckets.toString, "aside" -> aside),
      adopt.map(r => Seq("adopt", r)) ++ oldRel.map(r => Seq("mv", r)))
    val v = apply(tableDir, newBuckets, aside, adopt, oldRel)
    (v, adopt.size)
  }

  /** Roll a crashed rebucket forward. No-op without the intent file. */
  def replay(tableDir: String): Unit =
    Recovery.read(tableDir, Recovery.REBUCKET).foreach(i =>
      apply(tableDir, i("newBuckets").toInt, i("aside"), i.paths("adopt"), i.paths("mv")))

  private def apply(tableDir: String, newBuckets: Int, aside: String,
      adopt: Seq[String], oldRel: Seq[String]): Int = {
    val dataDir = new java.io.File(tableDir, "data")
    val base = dataDir.toPath
    val asideRoot = new java.io.File(tableDir, aside).toPath
    val stageBase = new java.io.File(tableDir, STAGE).toPath
    // 1. old layout moves aside; 2. the staged tree is adopted under data/
    oldRel.foreach(rel => Recovery.move(base.resolve(rel), asideRoot.resolve(rel)))
    adopt.foreach(rel => Recovery.move(stageBase.resolve(rel), base.resolve(rel)))
    // 3. new layout function becomes authoritative; 4. snapshot
    PageTable.writeBucketMeta(tableDir, newBuckets)
    val v = Recovery.recordOnce(tableDir)
    Recovery.clear(tableDir, Recovery.REBUCKET)
    val stage = stageBase.toFile
    if (stage.exists()) Snapshots.deleteRecursively(stage)
    Recovery.pruneEmpty(dataDir)
    v
  }
}
