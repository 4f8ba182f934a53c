package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import graft.api.SessionScope

/** Explicit transactions over managed snapshot tables — the reference's
  * session transaction-control statements (SqlBase.g4 START TRANSACTION /
  * COMMIT / ROLLBACK; StartTransactionTask.java, CommitTask.java,
  * RollbackTask.java, state in transaction/InMemoryTransactionManager
  * .java) mapped onto SnapshotTable's versioned-snapshot storage:
  *
  *   - BEGIN pins nothing eagerly; the FIRST read of each managed table
  *     inside the transaction pins that table's committed version, and
  *     every later read returns the same snapshot (repeatable reads —
  *     the strongest mode the reference's isolation-level syntax names
  *     that copy-on-write snapshots give for free);
  *   - writes (delete / update / merge / overwrite) rewrite into CLAIMED
  *     but UNCOMMITTED version directories: invisible to every other
  *     session, while reads inside the transaction see them
  *     (read-your-writes chains later writes off the staged version);
  *   - COMMIT takes every touched table's commit lock in sorted path
  *     order (no deadlocks), verifies each table is still at the version
  *     the transaction first saw (optimistic conflict check — the same
  *     ConcurrentModificationException contract as a single-statement
  *     transformCommit), then flips all pointers; any conflict rolls the
  *     whole transaction back and raises;
  *   - ROLLBACK deletes the staged directories and drops the pins.
  *
  * Reference error contract is kept verbatim: "Nested transactions not
  * supported" (StartTransactionTask.java:54), "No transaction in
  * progress" (CommitTask.java:44 / RollbackTask.java:45), "Cannot
  * execute write in a read-only transaction"
  * (InMemoryTransactionManager.java:586).
  *
  * Scale note: transaction state is a handful of (path, version) pairs —
  * coordinator-side metadata. The data plane still writes immutable
  * snapshot files; commit cost stays one pointer flip per table
  * regardless of data size.
  */
object Transactions {

  final private case class Staged(base: java.io.File, readV: Int, stagedV: Int)

  final private class Tx(val readOnly: Boolean, val isolation: String) {
    val pinned = TrieMap.empty[String, Int] // abs path → version at first read
    val staged = scala.collection.mutable.ArrayBuffer.empty[Staged]
  }

  /** The session's open transaction: request state, so a statement-server
    * clone starts outside it. */
  private val open = SessionScope.request(Option.empty[Tx])
  private def txOf(spark: SparkSession): Option[Tx] =
    SessionScope.get(spark, open)
  private def end(spark: SparkSession): Unit =
    SessionScope.update(spark, open)(_ => None)
  private def key(base: java.io.File): String = base.getAbsolutePath

  def inTransaction(spark: SparkSession): Boolean = txOf(spark).isDefined

  def begin(spark: SparkSession, readOnly: Boolean = false,
      isolation: String = "READ COMMITTED"): Unit =
    SessionScope.update(spark, open) { tx =>
      if (tx.isDefined)
        throw new IllegalStateException("Nested transactions not supported")
      Some(new Tx(readOnly, isolation))
    }

  private def current(spark: SparkSession): Tx =
    txOf(spark).getOrElse(
      throw new IllegalStateException("No transaction in progress"))

  /** The version this transaction reads for `base`: latest own staged
    * write, else the pinned first-read version (pinning it now). */
  private def readVersion(tx: Tx, base: java.io.File): Int =
    tx.staged.reverseIterator.find(s => key(s.base) == key(base))
      .map(_.stagedV)
      .getOrElse(tx.pinned.getOrElseUpdate(key(base),
        SnapshotTable.currentVersion(base).getOrElse(
          throw new IllegalStateException(
            s"no committed snapshot under $base"))))

  /** Snapshot-isolated read (plain committed read outside a transaction). */
  def read(spark: SparkSession, base: java.io.File): DataFrame =
    txOf(spark) match {
      case None => SnapshotTable.read(spark, base)
      case Some(tx) => spark.read.parquet(
        SnapshotTable.versionDir(base, readVersion(tx, base)).getAbsolutePath)
    }

  private def stageWrite(spark: SparkSession, base: java.io.File)
      (transform: DataFrame => DataFrame): Unit = {
    val tx = current(spark)
    if (tx.readOnly) throw new IllegalStateException(
      "Cannot execute write in a read-only transaction")
    val readV = readVersion(tx, base)
    val next = SnapshotTable.claimVersion(base, readV + 1)
    SnapshotTable.writeSnapshot(base, next)(
      transform(spark.read.parquet(
        SnapshotTable.versionDir(base, readV).getAbsolutePath))
        .write.mode("overwrite").parquet(_))
    tx.staged += Staged(base, readV, next)
    ()
  }

  /** Transactional DELETE/UPDATE/MERGE — same row semantics as the
    * auto-commit SnapshotTable ops, commit deferred to COMMIT. Outside a
    * transaction they fall through to the single-statement commit path. */
  def delete(spark: SparkSession, base: java.io.File, cond: Column): Unit =
    if (!inTransaction(spark)) { SnapshotTable.delete(spark, base, cond); () }
    else stageWrite(spark, base)(df => df.filter(
      org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.coalesce(cond,
          org.apache.spark.sql.functions.lit(false)))))

  def update(spark: SparkSession, base: java.io.File,
      sets: Seq[(String, Column)], cond: Column): Unit =
    if (!inTransaction(spark)) { SnapshotTable.update(spark, base, sets, cond); () }
    else stageWrite(spark, base) { df =>
      import org.apache.spark.sql.functions._
      val setMap = sets.toMap
      val hit = coalesce(cond, lit(false))
      df.select(df.columns.toIndexedSeq.map { c =>
        setMap.get(c) match {
          case Some(e) => when(hit, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }

  def merge(spark: SparkSession, base: java.io.File)
      (transform: DataFrame => DataFrame): Unit =
    if (!inTransaction(spark)) { SnapshotTable.merge(spark, base)(transform); () }
    else stageWrite(spark, base)(transform)

  /** Two-phase commit: all locks (sorted — no deadlock), all version
    * checks, then all pointer flips. Conflict rolls everything back. */
  def commit(spark: SparkSession): Unit = {
    val tx = current(spark)
    val bases = tx.staged.map(_.base).distinctBy(key).sortBy(key)
    def withLocks[A](bs: List[java.io.File])(body: => A): A = bs match {
      case Nil => body
      case h :: t => SnapshotTable.withCommitLock(h)(withLocks(t)(body))
    }
    try {
      withLocks(bases.toList) {
        val firstRead = tx.staged.groupBy(s => key(s.base))
          .view.mapValues(_.head).toMap
        firstRead.foreach { case (_, s) =>
          val cur = SnapshotTable.currentVersion(s.base)
          if (cur != Some(s.readV))
            throw new java.util.ConcurrentModificationException(
              s"snapshot table ${s.base} moved v${s.readV} -> " +
                s"v${cur.getOrElse(-1)} during transaction; rolled back")
        }
        val lastStaged = tx.staged.groupBy(s => key(s.base))
          .view.mapValues(_.last).toMap
        lastStaged.foreach { case (_, s) =>
          SnapshotTable.flipPointer(s.base, s.stagedV)
        }
      }
      // committed: drop intermediate staged dirs that are not the final
      // version of their table (they were never visible)
      val finals = tx.staged.groupBy(s => key(s.base))
        .view.mapValues(_.last.stagedV).toMap
      tx.staged.filter(s => finals(key(s.base)) != s.stagedV)
        .foreach(s => dropDir(SnapshotTable.versionDir(s.base, s.stagedV)))
      end(spark)
    } catch {
      case e: Throwable => rollback(spark); throw e
    }
  }

  /** Discard every staged write and end the transaction. */
  def rollback(spark: SparkSession): Unit = {
    val tx = current(spark)
    tx.staged.foreach(s =>
      dropDir(SnapshotTable.versionDir(s.base, s.stagedV)))
    end(spark)
  }

  private def dropDir(f: java.io.File): Unit = {
    def rec(x: java.io.File): Unit = {
      val kids = x.listFiles()
      if (kids != null) kids.foreach(rec)
      x.delete(); ()
    }
    if (f.exists()) rec(f)
  }

  // ---- driver gate ------------------------------------------------------

  /** Gate: a multi-statement read-write transaction over a managed orders
    * snapshot — DELETE then UPDATE staged invisibly (the committed view
    * mid-transaction still counts the original rows), read-your-writes
    * inside, then COMMIT flips once. The output row pins every
    * intermediate visibility plus the final table's decimal-summed
    * prices; the oracle replays the closed form. */
  def gateTx(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = new java.io.File("/tmp/graft_sources/tx_orders")
    if (inTransaction(s)) rollback(s) // idempotent re-runs
    SnapshotTable.drop(base)
    SnapshotTable.write(s, base, graft.Tables(s, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"), col("o_totalprice")))
    val ses = graft.api.SqlSession.wrap(s)
    ses.sql("START TRANSACTION ISOLATION LEVEL REPEATABLE READ")
    val pre = read(s, base).count()
    delete(s, base, col("o_orderkey") % 5 === 0)
    update(s, base,
      Seq("o_totalprice" -> (col("o_totalprice") * 2)),
      col("o_orderkey") % 7 === 0)
    val inTx = read(s, base).count() // read-your-writes
    val visibleDuring = SnapshotTable.read(s, base).count() // other sessions
    ses.sql("COMMIT")
    SnapshotTable.read(s, base)
      .agg(count(lit(1)).as("final_rows"),
        graft.Tables.dsum(col("o_totalprice"), "total_price"))
      .select(lit(pre).as("pre_rows"), lit(inTx).as("in_tx_rows"),
        lit(visibleDuring).as("during_rows"), col("final_rows"),
        col("total_price"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_commit" -> gateTx)

  val oracle: Map[String, String] = Map(
    "tx_commit" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p
        |    FROM orders WHERE o_orderkey <= 500),
        |f AS (SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p
        |    FROM o WHERE k % 5 <> 0)
        |SELECT (SELECT count(*) FROM o) AS pre_rows,
        |  (SELECT count(*) FROM f) AS in_tx_rows,
        |  (SELECT count(*) FROM o) AS during_rows,
        |  (SELECT count(*) FROM f) AS final_rows,
        |  CAST((SELECT SUM(CAST(p AS DECIMAL(18,6))) FROM f) AS DOUBLE)
        |    AS total_price""".stripMargin)
}
