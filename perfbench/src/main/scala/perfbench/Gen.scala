package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** A booking document, shaped like `MockBookings` output (nested
  * `property_location`, dates as strings) plus the change-feed
  * sequence number the sink nets on. Money is kept in cents so the
  * reference sums are exact. */
final case class Booking(id: String, customer: Long, cents: Long, currency: String,
                         checkIn: String, checkOut: String, bookedAt: String,
                         city: String, country: String, seq: Long)

/** One change-feed entry. A delete carries only the key and `seq`. */
final case class Change(b: Booking, delete: Boolean)

final case class Customer(key: Long, name: String, nation: Int, acctCents: Long, segment: String)

/** Seeded input generators. The engine never sees these objects, only
  * the files the workloads write from them. */
object Gen {
  val Currencies: Vector[String] = Vector("USD", "EUR", "GBP", "CAD")
  val Cities: Vector[(String, String)] = graft.sources.MockBookings.cities.toVector
  val Segments: Vector[String] = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Nations: Int = 25
  private val Day0 = LocalDate.of(2024, 1, 1)

  def booking(rnd: SplittableRandom, id: String, seq: Long, customers: Int): Booking = {
    val checkIn = Day0.plusDays(rnd.nextInt(330).toLong)
    val (city, country) = Cities(rnd.nextInt(Cities.size))
    Booking(id, 1L + rnd.nextInt(customers), 5000L + rnd.nextInt(95000),
      Currencies(rnd.nextInt(Currencies.size)), checkIn.toString,
      checkIn.plusDays(1L + rnd.nextInt(14)).toString,
      f"${Day0.plusDays(rnd.nextInt(364).toLong)} ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d",
      city, country, seq)
  }

  def customer(rnd: SplittableRandom, key: Long): Customer =
    Customer(key, f"Customer#$key%09d", rnd.nextInt(Nations),
      -99999L + rnd.nextInt(1099999), Segments(rnd.nextInt(Segments.size)))
}

/** Measured properties of a generated change feed. */
final class FeedProps {
  var inserts = 0L
  var updates = 0L
  var deletes = 0L
  /** Changes whose key already changed earlier in the same epoch. */
  var intraEpochDups = 0L
  /** Updates and deletes that hit the newest 10% of keys. */
  var recentHits = 0L
  val perKey: mutable.HashMap[String, Int] = mutable.HashMap.empty
  var epochs = 0
  var epochBytes = 0L

  def total: Long = inserts + updates + deletes

  def toMap: scala.collection.Map[String, Any] = {
    val t = math.max(1L, total).toDouble
    val counts = perKey.values.toVector.sortBy(-_)
    val top = counts.take(math.max(1, counts.size / 100)).sum
    Json.obj(
      "changes" -> total, "epochs" -> epochs,
      "rows_per_epoch" -> (if (epochs == 0) 0.0 else total.toDouble / epochs),
      "bytes_per_epoch" -> (if (epochs == 0) 0.0 else epochBytes.toDouble / epochs),
      "insert_share" -> inserts / t, "update_share" -> updates / t,
      "delete_share" -> deletes / t, "intra_epoch_dup_share" -> intraEpochDups / t,
      "recent10pct_share_of_updates_deletes" ->
        (if (updates + deletes == 0) 0.0 else recentHits.toDouble / (updates + deletes)),
      "top1pct_keys_share_of_changes" -> top / t)
  }
}

/** The booking change feed: a base table, then epochs of inserts,
  * updates skewed toward recently inserted keys, about 5% deletes, and
  * keys that change more than once inside one epoch (so the sink's
  * netting runs). Deterministic in `seed`. */
final class BookingFeed(seed: Long, baseRows: Int, val customers: Int,
                        updateShare: Double = 0.47, deleteShare: Double = 0.05,
                        dupShare: Double = 0.08) {
  private val rnd = new SplittableRandom(seed)
  private val keys = mutable.ArrayBuffer.empty[String] // insertion order
  private val live = mutable.HashSet.empty[String]
  private var seq = 0L
  val props = new FeedProps

  private def freshId(): String = {
    var id = f"${rnd.nextLong()}%016x"
    while (live.contains(id) || id.isEmpty) id = f"${rnd.nextLong()}%016x"
    id
  }

  private def nextSeq(): Long = { seq += 1; seq }

  val base: Vector[Booking] = Vector.fill(baseRows) {
    val id = freshId()
    keys += id
    live += id
    Gen.booking(rnd, id, nextSeq(), customers)
  }

  /** A live key, skewed toward the most recently inserted: index
    * n-1-floor(n*u^3), so about 46% of picks land in the newest 10%. */
  private def pickRecent(): String = {
    var id: String = null
    while (id == null) {
      val u = rnd.nextDouble()
      val i = keys.size - 1 - math.floor(keys.size * u * u * u).toInt
      val k = keys(math.max(0, i))
      if (live.contains(k)) {
        if (i >= keys.size - keys.size / 10) props.recentHits += 1
        id = k
      }
    }
    id
  }

  def epoch(rows: Int): Vector[Change] = {
    val touched = mutable.ArrayBuffer.empty[String]
    val out = Vector.newBuilder[Change]
    var i = 0
    while (i < rows) {
      val r = rnd.nextDouble()
      val change =
        if (touched.nonEmpty && r < dupShare) {
          val k = touched(rnd.nextInt(touched.size))
          props.intraEpochDups += 1
          if (live.contains(k)) props.updates += 1 else props.inserts += 1
          live += k
          Change(Gen.booking(rnd, k, nextSeq(), customers), delete = false)
        } else if (r < dupShare + deleteShare) {
          val k = pickRecent()
          props.deletes += 1
          live -= k
          Change(Booking(k, 0, 0, null, null, null, null, null, null, nextSeq()), delete = true)
        } else if (r < dupShare + deleteShare + updateShare) {
          val k = pickRecent()
          props.updates += 1
          Change(Gen.booking(rnd, k, nextSeq(), customers), delete = false)
        } else {
          val k = freshId()
          keys += k
          live += k
          props.inserts += 1
          Change(Gen.booking(rnd, k, nextSeq(), customers), delete = false)
        }
      touched += change.b.id
      props.perKey(change.b.id) = props.perKey.getOrElse(change.b.id, 0) + 1
      out += change
      i += 1
    }
    props.epochs += 1
    out.result()
  }
}

/** Customer landing files for the batch layer: each file updates a
  * share of existing customers and inserts new ones, keys unique
  * within a file. */
final class CustomerFeed(seed: Long, baseRows: Int, updateShare: Double = 0.7) {
  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private var maxKey = baseRows.toLong
  var updates = 0L
  var inserts = 0L

  val base: Vector[Customer] = Vector.tabulate(baseRows)(i => Gen.customer(rnd, i + 1L))

  def file(rows: Int): Vector[Customer] = {
    val nUpd = math.round(rows * updateShare).toInt
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < nUpd) picked += 1L + (rnd.nextLong() & Long.MaxValue) % maxKey
    val upd = picked.toVector.map(k => Gen.customer(rnd, k))
    val ins = Vector.fill(rows - nUpd) { maxKey += 1; Gen.customer(rnd, maxKey) }
    updates += upd.size
    inserts += ins.size
    upd ++ ins
  }
}

/** Reference results, folded from the generated inputs without the engine. */
object Ref {
  /** Last-writer-wins fold of a change feed onto a keyed table. */
  def applyChanges(table: Map[String, Booking], changes: Seq[Change]): Map[String, Booking] =
    changes.sortBy(_.b.seq).foldLeft(table) { (t, c) =>
      if (c.delete) t - c.b.id else t.updated(c.b.id, c.b)
    }

  /** SCD type 1: every landing row overwrites its key, files in order. */
  def scd1(table: Map[Long, Customer], files: Seq[Seq[Customer]]): Map[Long, Customer] =
    files.foldLeft(table)((t, f) => f.foldLeft(t)((u, c) => u.updated(c.key, c)))
}
