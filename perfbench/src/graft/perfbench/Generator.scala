package graft.perfbench

import java.io.{BufferedWriter, File}
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.types._

/** Seeded input generator for the paid-orders stream.
  *
  * Event time is cut into slots of [[SlotMs]]; slot `k` holds
  * [[OrdersPerSlot]] orders and lands as one orders file and one payments
  * file. The first [[BacklogSlots]] slots are the pre-landed backlog; the
  * rest land in [[phases]]: drains of [[DrainSlots]] slots, each landed
  * for one warm drain, and live segments of [[LiveSegmentSlots]] slots,
  * landed on a fixed schedule.
  * The seed draws:
  *  - user skew: users are drawn from a Zipf law whose exponent is seeded;
  *  - amounts: log-normal, with seeded location and spread;
  *  - payment delay: most payments follow their order within the join
  *    window, a seeded share falls outside it (those orders stay unpaid),
  *    and a seeded share is not `PAID` at all;
  *  - disorder: an event lands up to a seeded number of slots after its
  *    own slot, always less than the watermark delay, so no row is late.
  * Row counts do not depend on the seed, so every seed does the same
  * amount of work.
  */
final class Generator private (seed: Long, val dir: String) {
  import Generator._

  private val rnd = new scala.util.Random(seed)
  val zipfExponent: Double = 0.6 + 0.6 * rnd.nextDouble()
  val amountMu: Double = 3.0 + rnd.nextDouble()
  val amountSigma: Double = 0.5 + 0.5 * rnd.nextDouble()
  val outsideWindowShare: Double = 0.10 + 0.15 * rnd.nextDouble()
  val unpaidShare: Double = 0.05 + 0.15 * rnd.nextDouble()
  val disorderSlots: Int = 1 + rnd.nextInt(MaxDisorderSlots)

  val staging = s"$dir/staging"
  val ordersIn = s"$dir/in/orders"
  val paymentsIn = s"$dir/in/payments"
  val profilesFile = s"$dir/profiles.json"
  def slots: Int = BacklogSlots + WarmupDrains * DrainSlots + Drains * (LiveSegmentSlots + DrainSlots)
  val backlog: Range = 0 until BacklogSlots
  /** What lands after the backlog, in landing (and event-time) order: the
    * warm-up drains, then each measured drain after a live segment.
    */
  val phases: Seq[Phase] = {
    var from = BacklogSlots
    (Seq.fill(WarmupDrains)(false) ++ Seq.fill(Drains)(Seq(true, false)).flatten).map { live =>
      val n = if (live) LiveSegmentSlots else DrainSlots
      from += n
      Phase(live, from - n until from)
    }
  }
  def drains: Seq[Range] = phases.filterNot(_.live).map(_.slots)
  def live: Seq[Range] = phases.filter(_.live).map(_.slots)

  // per landing slot: the JSON lines of the orders and payments files
  private val orderLines = Array.fill(slots)(mutable.ArrayBuffer.empty[String])
  private val paymentLines = Array.fill(slots)(mutable.ArrayBuffer.empty[String])

  private val zipfCdf: Array[Double] = {
    val w = (1 to Users).map(r => 1.0 / math.pow(r, zipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def user(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Users - 1)
  }
  private def landing(eventMs: Long): Int =
    math.min(slots - 1, (eventMs / SlotMs).toInt + rnd.nextInt(disorderSlots + 1))

  private def generate(): Unit = {
    var id = 0L
    for (k <- 0 until slots; _ <- 0 until OrdersPerSlot) {
      val ts = k * SlotMs + rnd.nextInt(SlotMs.toInt)
      val u = user()
      val amount = math.round(math.exp(amountMu + amountSigma * rnd.nextGaussian()) * 100) / 100.0
      val products = (0 to rnd.nextInt(3)).map(_ => "\"p" + rnd.nextInt(500) + "\"").mkString(",")
      orderLines(landing(ts)) +=
        s"""{"orderId":"o$id","user":"u$u","products":[$products],"amount":$amount,"ts_ms":${Base + ts}}"""
      val delay =
        if (rnd.nextDouble() < outsideWindowShare) WindowMs + 1 + rnd.nextInt(WindowMs.toInt)
        else rnd.nextInt(WindowMs.toInt - SlotMs.toInt)
      val status = if (rnd.nextDouble() < unpaidShare) "PENDING" else "PAID"
      paymentLines(landing(ts + delay)) +=
        s"""{"orderId":"o$id","status":"$status","ts_ms":${Base + ts + delay}}"""
      id += 1
    }
  }

  private def write(f: File, lines: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    val w: BufferedWriter = Files.newBufferedWriter(f.toPath)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def writeAll(): Unit = {
    Seq(staging, ordersIn, paymentsIn).foreach(p => new File(p).mkdirs())
    write(new File(profilesFile), (0 until Users).filter(_ % 20 != 19).map { u =>
      s"""{"user":"u$u","profile":"${Profiles(u % Profiles.size)}"}"""
    })
    for (k <- 0 until slots) {
      write(new File(stagedOrders(k)), orderLines(k))
      write(new File(stagedPayments(k)), paymentLines(k))
    }
  }

  def stagedOrders(k: Int): String = f"$staging/o-$k%05d.json"
  def stagedPayments(k: Int): String = f"$staging/p-$k%05d.json"
  def orderFile(k: Int): String = f"o-$k%05d.json"
  def paymentFile(k: Int): String = f"p-$k%05d.json"

  /** Land one staged file in its watched directory by an atomic rename. */
  def land(staged: String, into: String): Unit = {
    val src = new File(staged).toPath
    Files.move(src, new File(into, src.getFileName.toString).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def rows(slots: Range): Long = slots.map(k => (orderLines(k).size + paymentLines(k).size).toLong).sum

  def params: Map[String, Any] = Map(
    "zipf_exponent" -> zipfExponent, "amount_mu" -> amountMu, "amount_sigma" -> amountSigma,
    "outside_window_share" -> outsideWindowShare, "unpaid_share" -> unpaidShare,
    "disorder_slots" -> disorderSlots, "slot_ms" -> SlotMs, "orders_per_slot" -> OrdersPerSlot,
    "backlog_slots" -> BacklogSlots, "drain_slots" -> DrainSlots,
    "warmup_drains" -> WarmupDrains, "drains" -> Drains, "live_segment_slots" -> LiveSegmentSlots,
    "users" -> Users)
}

/** A run of slots landed together: a drain, or a live segment. */
final case class Phase(live: Boolean, slots: Range)

object Generator {
  val Users = 400
  val OrdersPerSlot = 300
  val BacklogSlots = 45
  val DrainSlots = 30
  /** Untimed drains after the catch-up, while the JIT compilers still
    * speed micro-batches up; then the measured drains.
    */
  val WarmupDrains = 1
  val Drains = 3
  /** Slots of each live segment; one precedes every measured drain. */
  val LiveSegmentSlots = 12
  /** Share of the measuring time the live segments last together. */
  val LiveShare = 0.45
  /** Files a micro-batch may take from each source: the backlog takes
    * three micro-batches, a drain three, and the live arrivals (under 3 slots a
    * second at 30 s) stay well below what one micro-batch a second can
    * take, so a slow host lengthens batches without letting files queue up.
    */
  val MaxFilesPerTrigger = 15
  /** Event time covered by one slot. */
  val SlotMs = 20000L
  /** The topology's join window, which is also its watermark delay. */
  val JoinWindow = "5 minutes"
  val WindowMs = 300000L
  /** Disorder stays below the watermark delay (15 slots). */
  val MaxDisorderSlots = 6
  val Base = 1704067200000L // 2024-01-01T00:00:00Z
  val Profiles = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val orderSchema: StructType = new StructType()
    .add("orderId", StringType).add("user", StringType)
    .add("products", ArrayType(StringType)).add("amount", DoubleType).add("ts_ms", LongType)
  val paymentSchema: StructType = new StructType()
    .add("orderId", StringType).add("status", StringType).add("ts_ms", LongType)
  val profileSchema: StructType = new StructType()
    .add("user", StringType).add("profile", StringType)

  /** Generate all files of a seed into `dir`/staging, replacing what was there. */
  def apply(seed: Long, dir: String): Generator = {
    deleteRecursively(new File(dir))
    val g = new Generator(seed, dir)
    g.generate()
    g.writeAll()
    g
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
