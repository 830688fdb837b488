package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.StarReplication
import graft.operators.PurchaseSummary

/** End-of-run correctness checks of a star pipeline. Each returns the
  * names of the checks that failed (empty = all passed). */
object Checks {

  /** Last-writer-wins fold of a snapshot and a change log, written
    * independently of `graft.cdc.CdcApply`: snapshot rows enter as
    * inserts at lsn 0, and the highest-lsn event of each key decides
    * whether the key survives and with which after-image. */
  def fold(snapshot: DataFrame, log: DataFrame, key: String): DataFrame = {
    val cols = snapshot.columns.toSeq
    val events = snapshot.withColumn("_op", lit("INSERT")).withColumn("_lsn", lit(0L))
      .unionByName(log.select((cols ++ Seq("_op", "_lsn")).map(col): _*))
    val w = Window.partitionBy(col(key)).orderBy(col("_lsn").desc)
    events.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1 && col("_op") =!= "DELETE")
      .select(cols.map(col): _*)
  }

  /** Multiset equality of two frames over the columns of `a`, counted
    * on the driver (the benchmark's tables are a few thousand rows). */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    def bag(df: DataFrame) = df.select(a.columns.toSeq.map(col): _*).collect()
      .groupMapReduce(identity)(_ => 1)(_ + _)
    bag(a) == bag(b)
  }

  /** The IVM invariant (view = full recompute over the replicas) and,
    * for every replicated table given an expected state, replica =
    * independent fold of snapshot + log. */
  def star(star: StarReplication,
           expected: Seq[(String, DataFrame)]): Seq[String] = {
    val recomputed = PurchaseSummary.customerPurchaseSummary(
      star.transactions.current(), star.customers.current(),
      star.products.current(), star.merchants.current())
    val ivm = if (same(recomputed, star.view.current())) Nil else Seq("view")
    val replicas = expected.collect {
      case (table, want) if !same(want, replicaOf(star, table)) => table
    }
    ivm ++ replicas
  }

  def replicaOf(star: StarReplication, table: String): DataFrame = table match {
    case "transactions" => star.transactions.current()
    case dim => star.dimensions(dim).table.current()
  }
}
