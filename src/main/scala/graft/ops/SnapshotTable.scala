package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Managed table with snapshot-and-swap commits — the reference's
  * table-finish protocol in miniature (SPI/plan/TableFinishNode.java,
  * MAIN/operator/TableFinishOperator.java:68): every write lands in a NEW
  * versioned directory and becomes visible in one atomic pointer move, so
  * a concurrent reader sees the old snapshot or the new one, never a
  * partially-written mix. This is the same old-or-new contract
  * copy-on-write table formats give DELETE/UPDATE/MERGE.
  *
  * Layout: `<base>/v<N>/` parquet snapshots + `<base>/_current` holding
  * the committed version number. The pointer flip is
  * [[LakeFiles.publishReplace]] (temp file + `ATOMIC_MOVE`) — atomic on
  * POSIX; on object stores the
  * equivalent is a metastore pointer swap, which is exactly what the
  * reference's connectors do at 100 TB (the data files are immutable
  * either way, so the mechanism scales: commit cost is one pointer write,
  * not proportional to data).
  *
  * Writer-writer coordination: each writer CLAIMS its version with an
  * atomic `Files.createFile` of a `v<N>._claim` marker (colliding writers
  * bump to the next number). The claim lives OUTSIDE the data directory
  * on purpose: Spark's overwrite-mode write deletes its target directory
  * before rewriting it, so a directory-as-claim would reopen the claim
  * window mid-write — instead the data lands in a `v<N>._staging`
  * directory and becomes `v<N>` in one atomic rename, so the version dir
  * only ever exists fully written. The pointer flip runs under an
  * exclusive file lock
  * with a version check — a plain write only moves the pointer forward,
  * and a read-modify-write (delete/update/merge) only commits if the
  * table is still at the version it read, else it raises
  * ConcurrentModificationException (the optimistic-concurrency contract
  * of copy-on-write table formats; the reference serializes commits in
  * its table-finish layer).
  */
object SnapshotTable {
  private def pointer(base: java.io.File) = new java.io.File(base, "_current")

  /** The committed version, if any. */
  def currentVersion(base: java.io.File): Option[Int] = {
    val p = pointer(base)
    if (p.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8").trim.toInt)
    else None
  }

  private[ops] def versionDir(base: java.io.File, v: Int) =
    new java.io.File(base, s"v$v")

  private def claimFile(base: java.io.File, v: Int) =
    new java.io.File(base, s"v$v._claim")

  /** Atomically claim the next free version at or above `from`. The claim
    * is a marker FILE, not the data directory itself — see the class doc
    * for why a directory claim races with overwrite-mode writes. */
  private[ops] def claimVersion(base: java.io.File, from: Int): Int = {
    var v = from
    while (true) {
      if (versionDir(base, v).exists()) v += 1 // pre-claim-era snapshot
      else try {
        java.nio.file.Files.createFile(claimFile(base, v).toPath)
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    v // unreachable
  }

  /** Write a snapshot via staging + atomic rename: `writeTo` receives the
    * staging path; on return the staged tree becomes `v<next>` in one
    * rename, so the version directory never exists part-written. */
  private[ops] def writeSnapshot(base: java.io.File, next: Int)
      (writeTo: String => Unit): Unit = {
    val staging = new java.io.File(base, s"v$next._staging")
    writeTo(staging.getAbsolutePath)
    java.nio.file.Files.move(staging.toPath, versionDir(base, next).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run `body` under the table's exclusive commit lock. */
  private[ops] def withCommitLock[A](base: java.io.File)(body: => A): A = {
    val lockFile = new java.io.File(base, "_lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  /** Flip the pointer to `next` atomically (write-temp + atomic rename). */
  private[ops] def flipPointer(base: java.io.File, next: Int): Unit =
    LakeFiles.publishReplace(pointer(base), next.toString.getBytes("UTF-8"))

  /** Write `df` as the next snapshot and commit it atomically. Returns the
    * committed version. Concurrent plain writes both land (distinct
    * version dirs); the pointer only ever moves forward. */
  def write(spark: SparkSession, base: java.io.File, df: DataFrame): Int = {
    base.mkdirs()
    val next = claimVersion(base, currentVersion(base).getOrElse(0) + 1)
    writeSnapshot(base, next)(df.write.mode("overwrite").parquet(_))
    withCommitLock(base) {
      if (currentVersion(base).forall(_ < next)) flipPointer(base, next)
    }
    next
  }

  /** Like write, but laid out as partition directories on `partitionCols`
    * inside the version dir — the physical layout index lookups prune on
    * (ops/IndexJoin.scala). Same atomic commit contract. */
  def writePartitioned(spark: SparkSession, base: java.io.File,
      df: DataFrame, partitionCols: Seq[String]): Int = {
    base.mkdirs()
    val next = claimVersion(base, currentVersion(base).getOrElse(0) + 1)
    writeSnapshot(base, next)(df.write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(_))
    withCommitLock(base) {
      if (currentVersion(base).forall(_ < next)) flipPointer(base, next)
    }
    next
  }

  /** Directory of the committed snapshot (for layout-aware readers). */
  def committedDir(base: java.io.File): java.io.File = {
    val v = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $base"))
    versionDir(base, v)
  }

  /** The committed snapshot. */
  def read(spark: SparkSession, base: java.io.File): DataFrame = {
    val v = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $base"))
    spark.read.parquet(versionDir(base, v).getAbsolutePath)
  }

  /** Copy-on-write read-modify-write: transform the committed snapshot and
    * commit the result as the next version. Readers concurrent with the
    * rewrite see the old snapshot until the pointer flips; a conflicting
    * committer (version moved since we read) raises — retry from the new
    * snapshot, never silently discard. */
  def transformCommit(spark: SparkSession, base: java.io.File)
      (transform: DataFrame => DataFrame): Int = {
    val readV = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $base"))
    val next = claimVersion(base, readV + 1)
    writeSnapshot(base, next)(
      transform(spark.read.parquet(versionDir(base, readV).getAbsolutePath))
        .write.mode("overwrite").parquet(_))
    withCommitLock(base) {
      val cur = currentVersion(base)
      if (cur != Some(readV))
        throw new java.util.ConcurrentModificationException(
          s"snapshot table $base moved v$readV -> v${cur.getOrElse(-1)} " +
            "during rewrite; retry against the new snapshot")
      flipPointer(base, next)
    }
    next
  }

  /** MERGE (matched-update / not-matched-insert composed by the caller). */
  def merge(spark: SparkSession, base: java.io.File)
      (transform: DataFrame => DataFrame): Int =
    transformCommit(spark, base)(transform)

  /** DELETE WHERE cond — rows where cond is TRUE are removed (NULL keeps
    * the row, the reference's DELETE contract, SPI/plan/DeleteNode.java). */
  def delete(spark: SparkSession, base: java.io.File, cond: Column): Int =
    transformCommit(spark, base)(_.filter(not(coalesce(cond, lit(false)))))

  /** UPDATE SET col=expr, ... WHERE cond — every SET expression evaluates
    * against the PRE-update row (ANSI UPDATE semantics; reference
    * UpdateNode + LocalExecutionPlanner.java:3157), so one select computes
    * all assignments simultaneously rather than chaining withColumn. */
  def update(spark: SparkSession, base: java.io.File,
      sets: Seq[(String, Column)], cond: Column): Int =
    transformCommit(spark, base) { df =>
      val setMap = sets.toMap
      val hit = coalesce(cond, lit(false))
      df.select(df.columns.toIndexedSeq.map { c =>
        setMap.get(c) match {
          case Some(e) => when(hit, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }

  /** Drop the table (all snapshots + pointer). */
  def drop(base: java.io.File): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(); ()
    }
    if (base.exists()) rec(base)
  }
}
