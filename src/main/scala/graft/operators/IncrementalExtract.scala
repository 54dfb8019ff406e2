package graft.operators

import graft.Page
import graft.sources.{PageTable, Snapshots}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One cycle of version-checkpointed incremental extraction (the
  * `Main extract-incr` engine, factored out so the compaction-guard path is
  * unit-testable): consume the pages table's snapshot delta since the last
  * run, extract, land the window under a DETERMINISTIC path, then advance
  * the checkpoint.
  *
  * Compaction guard: `readChanges` is an append-only file diff, so a
  * compaction between the checkpointed version and latest rewrites the
  * SURVIVING corpus into "new" files and the delta would silently
  * re-extract it all as duplicates. Detected by diffing the manifests for
  * REMOVED files; when found, the delta is anti-joined against urls already
  * extracted into EARLIER windows. The catch-up is bloom-pre-filtered
  * (VERDICT_r04 #4, the dd_bloom device): the delta's url bloom is built
  * once (small side), and the prior-windows scan — the accumulated corpus,
  * exactly what the incremental loop exists to avoid re-reading — drops
  * non-candidate urls MAP-SIDE before the exchange, so the anti-join
  * shuffles the candidate overlap, not the archive. Column-pruned to url
  * on the archive side either way; result identical to the plain anti-join.
  *
  * Crash idempotency: the window path is keyed by the START version only, so
  * a crash before the state save reruns and overwrites the SAME window. The
  * guard's anti-join therefore EXCLUDES the current window from "prior" — a
  * crashed run's stale window would otherwise anti-join the delta against
  * itself and erase the rerun's docs.
  */
object IncrementalExtract {

  case class IncrReport(nDocs: Long, fromV: Int, toV: Int, window: String,
                        compactionGuard: Boolean)

  def runOnce(spark: SparkSession, dir: String, out: String,
              state: java.io.File): Option[IncrReport] = {
    import spark.implicits._
    val last =
      if (state.isFile)
        new String(java.nio.file.Files.readAllBytes(state.toPath)).trim.toInt
      else -1
    val latest = Snapshots.latestVersion(dir).getOrElse(-1)
    if (latest <= last) return None

    val fromFiles: Set[String] =
      if (last < 0) Set.empty
      else Snapshots.files(dir, last).map(_._2.toSet).getOrElse(Set.empty)
    val removed = fromFiles -- Snapshots.files(dir, latest).get._2.toSet
    val delta0 = PageTable.readChanges(spark, dir, last, latest)
    val windowVal = s"v${last + 1}"
    val delta1 =
      if (removed.isEmpty) delta0
      else {
        System.err.println(s"[extract-incr] WARNING: ${removed.size} files " +
          s"removed between v$last and v$latest (compaction/delete in the " +
          "window) — bloom-pre-filtered anti-join of the delta against " +
          "already-extracted urls")
        val prior = spark.read.option("basePath", out).parquet(out)
          // never against the stale current window of a crashed rerun
          .filter(col("window") =!= lit(windowVal))
          .select("url")
        Dedup.bloomPreAnti(delta0, prior, "url")
      }
    val delta = delta1
      .select("url", "warc_ts", "html", "text", "lang").as[Page]
    val window = s"$out/window=$windowVal"
    val docs = Extract.extract(delta).toDF()
    docs.write.mode("overwrite").parquet(window)
    val n = spark.read.parquet(window).count()
    // a crash mid-write must never leave a corrupt checkpoint that wedges reruns
    graft.sources.Recovery.writeAtomic(state, latest.toString.getBytes("UTF-8"))
    Some(IncrReport(n, last + 1, latest, window, removed.nonEmpty))
  }
}
