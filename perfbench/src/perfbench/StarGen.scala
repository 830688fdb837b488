package perfbench

import java.sql.{Date, Timestamp}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.cdc.CdcApply
import graft.model.Schemas

/** A transactions change event: the table's columns plus the CDC
  * metadata `_op`, `_lsn`, `_commit_ts`. Deletes carry the full
  * before-image, so `transaction_date` (the partitioned replica's
  * identity) is always present. */
case class TxEvent(transaction_id: String, customer_id: Int, product_id: Int,
                   merchant_id: Int, transaction_date: Date,
                   transaction_time: String, quantity: Int,
                   total_price: Double, transaction_card: String,
                   transaction_category: String,
                   _op: String, _lsn: Long, _commit_ts: Timestamp)

case class ProductEvent(product_id: Int, product_name: String,
                        product_category: String, price: Double,
                        _op: String, _lsn: Long, _commit_ts: Timestamp)

case class MerchantEvent(merchant_id: Int, merchant_name: String,
                         merchant_category: String,
                         _op: String, _lsn: Long, _commit_ts: Timestamp)

/** Sizes of the generated star. */
final case class StarSize(customers: Int, products: Int, merchants: Int,
                          categories: Int, days: Int, transactions: Int)

/** Seeded generator of the reference-shaped star (`graft.model.Schemas`)
  * with unique `transaction_id`s, and of the change logs the workloads
  * replay. The same seed gives the same star and the same logs.
  *
  * Shape: customers, products and merchants draw their categories from
  * one shared domain, so the view's cross-dimension conjunct
  * (`merchant_category = product_category`) keeps some fact rows and
  * drops others; half of the transactions buy from a merchant of the
  * product's own category. History spreads uniformly over `days` daily
  * partitions. */
final class StarGen(seed: Long, val size: StarSize) {
  private val rnd = new SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T], r: SplittableRandom): T = xs(r.nextInt(xs.size))

  val firstDay: Date = Date.valueOf("2023-01-01")
  def day(i: Int): Date = Date.valueOf(firstDay.toLocalDate.plusDays(i.toLong))
  /** The day after history: where the live feed inserts. */
  val newestDay: Date = day(size.days)

  val categories: IndexedSeq[String] =
    (0 until size.categories).map(i => f"category-$i%02d")
  private val cards = IndexedSeq("American Express", "Visa", "Mastercard", "Discover")

  val customers: IndexedSeq[Schemas.Customer] = (1 to size.customers).map { i =>
    Schemas.Customer(i, s"first$i", s"last$i", 18 + rnd.nextInt(73),
      s"c$i@example.com", f"555-${rnd.nextInt(10000)}%04d")
  }
  val products: IndexedSeq[Schemas.Product] = (1 to size.products).map { i =>
    Schemas.Product(i, s"product-$i", pick(categories, rnd),
      (500 + rnd.nextInt(24500)) / 100.0)
  }
  val merchants: IndexedSeq[Schemas.Merchant] = (1 to size.merchants).map { i =>
    Schemas.Merchant(i, s"merchant-$i", pick(categories, rnd))
  }
  private val merchantsOf: Map[String, IndexedSeq[Int]] =
    merchants.groupBy(_.merchant_category).view.mapValues(_.map(_.merchant_id)).toMap
  private val priceOf: Map[Int, Double] = products.map(p => p.product_id -> p.price).toMap

  /** A new transaction row with key `id` on `date`. */
  def transaction(id: String, date: Date, r: SplittableRandom): Schemas.Transaction = {
    val p = pick(products, r)
    val m = merchantsOf.get(p.product_category)
      .filter(_ => r.nextInt(2) == 0)
      .map(ms => pick(ms, r))
      .getOrElse(1 + r.nextInt(size.merchants))
    val q = 1 + r.nextInt(10)
    Schemas.Transaction(id, 1 + r.nextInt(size.customers), p.product_id, m, date,
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d",
      q, q * priceOf(p.product_id), pick(cards, r),
      if (r.nextInt(10) == 0) "Refund" else "Purchase")
  }

  val history: IndexedSeq[Schemas.Transaction] =
    (0 until size.transactions).map(i => transaction(s"H$i", day(rnd.nextInt(size.days)), rnd))

  /** Seeds of the log generators: independent of each other and of the
    * star, so the star is the same whichever logs a workload draws. */
  private val liveSeed = rnd.nextLong()
  private val restateSeed = rnd.nextLong()

  def event(t: Schemas.Transaction, op: String, lsn: Long): TxEvent =
    TxEvent(t.transaction_id, t.customer_id, t.product_id, t.merchant_id,
      t.transaction_date, t.transaction_time, t.quantity, t.total_price,
      t.transaction_card, t.transaction_category, op, lsn, new Timestamp(lsn))

  /** Open-loop feed of the live workload: ~90% inserts of new keys into
    * the newest day, ~10% refund flips, quantity corrections and deletes
    * of keys this feed inserted earlier. Not thread-safe: one generator
    * thread draws from it. */
  final class LiveFeed(firstLsn: Long) {
    private val r = new SplittableRandom(liveSeed)
    private var lsn = firstLsn
    private var inserted = 0
    private val live = mutable.ArrayBuffer.empty[Schemas.Transaction]

    def next(): TxEvent = {
      lsn += 1
      if (live.isEmpty || r.nextInt(10) != 0) {
        inserted += 1
        val t = transaction(s"L$inserted", newestDay, r)
        live += t
        event(t, CdcApply.Insert, lsn)
      } else {
        val i = r.nextInt(live.size)
        val t = live(i)
        r.nextInt(5) match {
          case 0 =>
            live(i) = live.last; live.remove(live.size - 1)
            event(t, CdcApply.Delete, lsn)
          case 1 | 2 =>
            val flipped = t.copy(transaction_category =
              if (t.transaction_category == "Refund") "Purchase" else "Refund")
            live(i) = flipped
            event(flipped, CdcApply.Update, lsn)
          case _ =>
            val q = 1 + r.nextInt(10)
            val fixed = t.copy(quantity = q, total_price = q * priceOf(t.product_id))
            live(i) = fixed
            event(fixed, CdcApply.Update, lsn)
        }
      }
    }
  }

  /** One batch of the restatement log. */
  sealed trait LogBatch { def table: String; def events: Int }
  final case class FactBatch(rows: Seq[TxEvent]) extends LogBatch {
    def table = "transactions"; def events: Int = rows.size
  }
  final case class ProductBatch(rows: Seq[ProductEvent]) extends LogBatch {
    def table = "products"; def events: Int = rows.size
  }
  final case class MerchantBatch(rows: Seq[MerchantEvent]) extends LogBatch {
    def table = "merchants"; def events: Int = rows.size
  }

  /** The fixed correction log of the restatement workload: `factBatches`
    * batches of `batchSize` events whose keys are drawn uniformly from
    * all of history (70% updates, 20% deletes, 10% re-inserts of keys
    * the log deleted earlier), with one product-price batch and then one
    * merchant-category batch (each of `dimKeys` keys) before the second
    * half of the fact batches. */
  def restatementLog(factBatches: Int, batchSize: Int,
                     dimKeys: Int): Seq[LogBatch] = {
    val r = new SplittableRandom(restateSeed)
    var lsn = 0L
    val live = mutable.ArrayBuffer.from(history)
    val deleted = mutable.ArrayBuffer.empty[Schemas.Transaction]
    def factBatch(): FactBatch = FactBatch((0 until batchSize).map { _ =>
      lsn += 1
      val roll = r.nextInt(10)
      if (roll == 0 && deleted.nonEmpty) {
        val i = r.nextInt(deleted.size)
        val t = deleted(i)
        deleted(i) = deleted.last; deleted.remove(deleted.size - 1)
        live += t
        event(t, CdcApply.Insert, lsn)
      } else {
        val i = r.nextInt(live.size)
        val t = live(i)
        if (roll <= 2 && roll > 0) {
          live(i) = live.last; live.remove(live.size - 1)
          deleted += t
          event(t, CdcApply.Delete, lsn)
        } else {
          val q = 1 + r.nextInt(10)
          val fixed = t.copy(quantity = q, total_price = q * priceOf(t.product_id),
            transaction_category =
              if (r.nextInt(4) == 0) "Refund" else t.transaction_category)
          live(i) = fixed
          event(fixed, CdcApply.Update, lsn)
        }
      }
    })
    def distinctPicks[T](xs: IndexedSeq[T]): Seq[T] =
      Iterator.continually(pick(xs, r)).distinct.take(math.min(dimKeys, xs.size)).toSeq
    def productBatch() = ProductBatch(distinctPicks(products).map { p =>
      lsn += 1
      ProductEvent(p.product_id, p.product_name, p.product_category,
        math.round(p.price * (50 + r.nextInt(100))) / 100.0,
        CdcApply.Update, lsn, new Timestamp(lsn))
    })
    def merchantBatch() = MerchantBatch(distinctPicks(merchants).map { m =>
      lsn += 1
      val others = categories.filterNot(_ == m.merchant_category)
      MerchantEvent(m.merchant_id, m.merchant_name, pick(others, r),
        CdcApply.Update, lsn, new Timestamp(lsn))
    })
    (0 until factBatches).flatMap { i =>
      val dims = if (i == factBatches / 2) Seq(productBatch(), merchantBatch()) else Nil
      dims :+ factBatch()
    }
  }
}
