package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}

/** Crash recovery for the pages table layer: the one home of the write-
  * ahead-intent protocol that MERGE ([[RowLevelCommit]]), rollback
  * ([[Snapshots.rollback]]), branch publish ([[Branches.publish]]) and
  * rebucket ([[Rebucket.run]]) commit through.
  *
  * Protocol. Before its first file step, an operation commits an intent
  * `_<kind>_pending` at the table root ([[commit]]): `key=value` header
  * lines, then one tab-separated op line per file step. The commit hard-
  * links onto the final name, so it is atomic and fails if an intent of
  * that kind is already pending. The operation then applies its steps with
  * [[move]] (a step already done is skipped), records a snapshot, and
  * clears the intent ([[clear]]). Every step is idempotent, so a crash
  * anywhere is rolled FORWARD by running the same apply again from the
  * parsed intent ([[read]]).
  *
  * [[recover]] is that roll-forward for every kind, in one fixed order:
  *   1. [[Compact.repair]]: put back or drop compaction asides, so the data
  *      dir is a committed layout before any replay records a snapshot;
  *   2. MERGE ([[RowLevelCommit.replay]]);
  *   3. rollback ([[Snapshots.replayRollback]]);
  *   4. branch publish ([[Branches.replayPublish]]);
  *   5. rebucket ([[Rebucket.replay]]).
  * Rollback, rebucket, compaction, z-order, vacuum, publish and every
  * catalog write (append/overwrite, MERGE/UPDATE/DELETE, metadata DELETE)
  * run it before they read the live file set. A catalog read (`loadTable`)
  * runs it only when an intent is pending ([[pending]]); otherwise it
  * leaves a compaction aside alone, since that compaction may still be in
  * flight. Because every operation recovers before it commits its own
  * intent, at most one intent is pending at a time under the engine's
  * single-writer rule. Recovering first is what keeps vacuum from
  * collecting a half-applied commit's files as orphans, and a write's
  * snapshot from leaving out a leaf a crashed compaction parked aside.
  */
object Recovery {

  val MERGE = "_merge_pending"
  val ROLLBACK = "_rollback_pending"
  val PUBLISH = "_publish_pending"
  val REBUCKET = "_rebucket_pending"

  /** Every intent kind, in replay order. */
  val INTENTS: Seq[String] = Seq(MERGE, ROLLBACK, PUBLISH, REBUCKET)

  /** A parsed intent: its header pairs and its op lines split on tabs. */
  case class Intent(header: Map[String, String], ops: Seq[List[String]]) {
    def apply(key: String): String =
      header.getOrElse(key, throw new IllegalStateException(s"intent has no '$key=' header"))

    /** The path of every one-argument `op` line, in intent order. */
    def paths(op: String): Seq[String] = ops.collect { case List(`op`, p) => p }
  }

  /** The intents pending at `tableDir`, in replay order. */
  def pending(tableDir: String): Seq[String] =
    INTENTS.filter(k => new File(tableDir, k).isFile)

  /** Roll every pending intent forward, in the documented order. */
  def recover(tableDir: String): Unit = {
    Compact.repair(tableDir)
    RowLevelCommit.replay(tableDir)
    Snapshots.replayRollback(tableDir)
    Branches.replayPublish(tableDir)
    Rebucket.replay(tableDir)
  }

  /** Atomically create the `kind` intent; fails if one is already pending. */
  def commit(tableDir: String, kind: String,
             header: Seq[(String, String)], ops: Seq[Seq[String]]): Unit = {
    val body = header.map { case (k, v) => s"$k=$v" } ++ ops.map(_.mkString("\t"))
    if (!createAtomic(new File(tableDir, kind), body.mkString("\n").getBytes(UTF_8)))
      throw new IllegalStateException(
        s"another commit is in flight at $tableDir ($kind exists)")
  }

  /** The `kind` intent at `tableDir`, if one is pending. */
  def read(tableDir: String, kind: String): Option[Intent] = {
    val f = new File(tableDir, kind)
    if (!f.isFile) None
    else {
      val lines = new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      val (ops, header) = lines.partition(_.contains('\t'))
      Some(Intent(
        header.map { l =>
          val i = l.indexOf('=')
          if (i <= 0) throw new IllegalStateException(s"corrupt $kind line: $l")
          l.take(i) -> l.drop(i + 1)
        }.toMap,
        ops.map(_.split("\t", -1).toList)))
    }
  }

  /** Remove the `kind` intent once its operation has settled. */
  def clear(tableDir: String, kind: String): Unit = {
    val f = new File(tableDir, kind)
    if (f.exists() && !f.delete())
      throw new IllegalStateException(s"cannot clear intent $f")
  }

  /** One idempotent file step: moves `src` to `dst` (parent dirs created,
    * ATOMIC_MOVE) when `src` exists. When `src` is gone the step already
    * ran, and `dst` must show it: a listed file found in neither place was
    * lost, and the replay fails rather than record a table without it.
    */
  def move(src: Path, dst: Path): Unit =
    if (Files.isRegularFile(src)) {
      Files.createDirectories(dst.getParent)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    } else if (!Files.isRegularFile(dst))
      throw new IllegalStateException(s"intent replay lost a file: $src is not at $dst either")

  /** Record a snapshot unless the latest one already lists the live file
    * set: a crash after the record but before [[clear]] must not commit
    * the same state twice. Returns the version that lists it.
    */
  def recordOnce(tableDir: String): Int = {
    val dataDir = new File(tableDir, "data")
    val live = Snapshots.walkData(dataDir)
      .map(f => dataDir.toPath.relativize(f.toPath).toString).sorted
    Snapshots.latestVersion(tableDir) match {
      case Some(l) if Snapshots.files(tableDir, l).exists(_._2.sorted == live) => l
      case _ => Snapshots.record(tableDir)
    }
  }

  /** Drop the `bucket=/day=` directories a move or delete left empty. */
  def pruneEmpty(dataDir: File): Unit =
    Option(dataDir.listFiles).getOrElse(Array.empty).foreach { b =>
      if (b.isDirectory) {
        Option(b.listFiles).getOrElse(Array.empty)
          .filter(d => d.isDirectory && Option(d.listFiles).exists(_.isEmpty)).foreach(_.delete())
        if (Option(b.listFiles).exists(_.isEmpty)) b.delete()
      }
    }

  /** Write a small file through a hidden `.<name>.tmp` sibling and an atomic
    * rename over `f`: a crash mid-write leaves the previous content, never a
    * torn one.
    */
  def writeAtomic(f: File, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(f, bytes)
    Files.move(tmp, f.toPath, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Create `f` with `bytes` atomically, or return false if it exists: the
    * hard link onto the final name is the create-or-fail step, so two
    * racing writers can never both succeed (a rename would let the last
    * one silently replace the first).
    */
  def createAtomic(f: File, bytes: Array[Byte]): Boolean = {
    val tmp = tmpFor(f, bytes)
    try { Files.createLink(f.toPath, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  private def tmpFor(f: File, bytes: Array[Byte]): Path = {
    f.getAbsoluteFile.getParentFile.mkdirs()
    Files.write(new File(f.getAbsoluteFile.getParentFile, s".${f.getName}.tmp").toPath, bytes)
  }
}
