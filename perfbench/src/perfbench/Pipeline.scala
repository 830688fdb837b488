package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.StarReplication

/** Parquet files and version directories under a table directory. */
final case class Storage(files: Long, bytes: Long, versions: Long) {
  def -(o: Storage): Storage = Storage(files - o.files, bytes - o.bytes, versions - o.versions)
  def +(o: Storage): Storage = Storage(files + o.files, bytes + o.bytes, versions + o.versions)
}

object Storage {
  val Zero: Storage = Storage(0, 0, 0)

  def of(dir: String): Storage = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) Zero
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.foldLeft(Zero) { (acc, p: Path) =>
        val n = p.getFileName.toString
        if (n.startsWith("v=") && Files.isDirectory(p)) acc.copy(versions = acc.versions + 1)
        else if (n.endsWith(".parquet") && !n.startsWith(".")) Storage(acc.files + 1, acc.bytes + Files.size(p), acc.versions)
        else acc
      } finally s.close()
    }
  }
}

/** The benchmark's calls into the CDC and streaming layers of one star.
  *
  * Untraced, each method is the one public call the paper's path makes:
  * `StarReplication.snapshotAll`, `applyBatch` and `startAll`. Traced,
  * a composite call is made as the public calls it is composed of, in
  * the order `StarReplication` makes them (snapshots then
  * `DynamicTable.fullRefresh`; `applyChanges` of the fed table then
  * `incrementalRefresh` or `dimensionRefresh`), so that every layer
  * gets a span of its own, and the storage written by each fact and
  * view apply is diffed. The end-of-run checks run in both modes. */
final class Pipeline(val star: StarReplication, dir: String, tracer: Tracer) {
  private val traced = tracer.enabled

  /** Storage written by each fact apply ("fact") and view refresh
    * ("view"), with the call's start time (traced runs only). */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Storage)]

  def snapshotAll(tx: DataFrame, cust: DataFrame, prod: DataFrame, merch: DataFrame): Unit =
    if (!traced) star.snapshotAll(tx, cust, prod, merch)
    else tracer.span("cdc.star.snapshot_all") {
      tracer.span("cdc.snapshot") {
        star.customers.snapshot(cust)
        star.products.snapshot(prod)
        star.merchants.snapshot(merch)
        star.transactions.snapshot(tx)
      }
      tracer.span("streaming.full_refresh") { star.dynamicTable.fullRefresh() }
      ()
    }

  def applyBatch(table: String, batch: DataFrame): Unit =
    if (!traced) star.applyBatch(table, batch)
    else tracer.span("cdc.star.apply_batch") {
      if (table == "transactions") {
        written("fact", s"$dir/transactions") {
          tracer.span("cdc.apply") { star.transactions.applyChanges(batch) }
        }
        written("view", s"$dir/view") {
          tracer.span("streaming.incremental_refresh") {
            star.dynamicTable.incrementalRefresh(batch)
          }
        }
      } else {
        tracer.span("cdc.dim_apply") { star.dimensions(table).table.applyChanges(batch) }
        written("view", s"$dir/view") {
          tracer.span("streaming.dimension_refresh") {
            star.dynamicTable.dimensionRefresh(table, batch)
          }
        }
      }
    }

  private def written(kind: String, tableDir: String)(body: => Any): Unit = {
    val start = System.nanoTime()
    val before = Storage.of(tableDir)
    body
    writes.add((kind, start, Storage.of(tableDir) - before))
  }

  /** Tail the transactions feed with a `ProcessingTime(0)` trigger. */
  def startTransactions(feed: DataFrame, checkpointRoot: String): StreamingQuery =
    if (!traced)
      star.startAll(Map("transactions" -> feed), checkpointRoot,
        Trigger.ProcessingTime(0))("transactions")
    else feed.writeStream
      .queryName("star-transactions")
      .option("checkpointLocation", s"$checkpointRoot/transactions")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("stream.batch", s"batch-$id") { applyBatch("transactions", batch) }
      }
      .start()
}
