package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StringType

import graft.ops.Ipc
import graft.sources.{TableLog, Tables}

/** The `storage_rw` operations: commits and reads on one `TableLog`
  * table built from `orders`, plus Arrow IPC round trips of its latest
  * snapshot. An op is `kind:arg:arg`; `workloads.py` writes the
  * sequence and `check.StorageReplay` replays the same one in DuckDB to
  * check every read. */
final class StorageOps(spark: SparkSession, dataDir: String, root: String, ipcRoot: String) {
  private val Key = "o_orderkey"
  private val stats = Seq(Key)
  private def orders(lo: Long, n: Long): DataFrame =
    Tables(spark, dataDir, "orders").where(col(Key) >= lo && col(Key) < lo + n)
  private def range(lo: Long, hi: Long) = col(Key).between(lo, hi)
  private var latest = -1

  /** Result of one call: the version it committed or read, and for
    * reads the frame whose rows are digested. */
  final case class Outcome(version: Int, result: Option[DataFrame])

  private def commit(v: Int): Outcome = { latest = v; Outcome(v, None) }
  private def read(v: Int, df: DataFrame): Outcome = Outcome(v, Some(df))

  def run(op: String): Outcome = op.split(":").toList match {
    case List("create", lo, n) => commit(TableLog.append(spark, root, orders(lo.toLong, n.toLong), stats))
    case List("append", lo, n) => commit(TableLog.append(spark, root, orders(lo.toLong, n.toLong), stats))
    case List("merge", lo, n) =>
      val src = orders(lo.toLong, n.toLong)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_orderstatus", lit("M"))
      commit(TableLog.merge(spark, root, src, Key, stats))
    case List("update", lo, hi) =>
      commit(TableLog.update(spark, root, range(lo.toLong, hi.toLong),
        Map("o_totalprice" -> (col("o_totalprice") + 1.0)), stats))
    case List("dv", lo, hi) => commit(TableLog.deleteVector(spark, root, range(lo.toLong, hi.toLong)))
    case List("delrange", lo, hi) => commit(TableLog.deleteRange(spark, root, Key, lo.toLong, hi.toLong))
    case List("addcol") => commit(TableLog.addColumn(spark, root, "o_note", StringType))
    case List("snap") => read(latest, TableLog.snapshot(spark, root))
    case List("tt", back) =>
      val v = latest - back.toInt
      read(v, TableLog.snapshot(spark, root, v))
    case List("changes", back) =>
      val v = latest - back.toInt
      read(v, TableLog.tableChanges(spark, root, v).select(col(TableLog.ChangeTypeCol),
        col(TableLog.CommitVersionCol), col(Key), col("o_totalprice")))
    case List("history") =>
      read(latest, TableLog.history(spark, root).select(col("version")))
    case List("ipcw", codec) =>
      val snap = TableLog.snapshot(spark, root)
      val dir = s"$ipcRoot/$codec"
      if (codec == "none") Ipc.writeIpc(snap, dir) else Ipc.writeIpc(snap, dir, codec)
      Outcome(latest, None)
    case List("ipcr", codec) => read(latest, Ipc.readIpc(spark, s"$ipcRoot/$codec"))
    case List("ipcd", codec) =>
      read(latest, spark.read.format("graft-ipc").load(s"$ipcRoot/$codec"))
    case _ => throw new IllegalArgumentException(s"unknown storage op: $op")
  }

  /** Bytes on disk of the IPC files written for `codec`. */
  def ipcBytes(codec: String): Long = {
    val d = new java.io.File(s"$ipcRoot/$codec")
    Option(d.listFiles()).getOrElse(Array.empty).filter(_.isFile).map(_.length).sum
  }
}
