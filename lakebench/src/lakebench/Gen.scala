package lakebench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The testdata-derived shape the generator follows (profile.json). */
final case class Profile(eventsPerDay: Int, users: Int, eventTypes: Seq[String],
                         valueMax: Double, vocabulary: Seq[(String, Long)],
                         tokenVentiles: Seq[Int])

object Profile {
  def load(path: java.nio.file.Path): Profile = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    val ev = j \ "events"
    val docs = j \ "documents"
    Profile((ev \ "per_day").extract[Int], (ev \ "users").extract[Int],
      (ev \ "event_types").extract[Seq[String]], (ev \ "value_max").extract[Double],
      (docs \ "vocabulary").extract[Map[String, Long]].toSeq.sorted,
      (docs \ "token_count_ventiles").extract[Seq[Int]])
  }
}

/** One raw event as landed. `userId` is null for a share of rows. */
final case class Event(eventId: Long, tsMicros: Long, userId: java.lang.Long,
                       eventType: String, cents: Long) {
  def day: Int = Math.floorDiv(tsMicros - Gen.Epoch2024, Gen.DayMicros).toInt
  def row: Row = Row(eventId, Gen.timestamp(tsMicros), userId, eventType, cents / 100.0,
    s"""{"k": ${eventId % 97}}""")
}

object Gen {
  val Epoch2024 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  val DayMicros = 86400000000L
  val LateShare = 0.03
  val NullUserShare = 0.01
  val StayProb = 0.7

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def date(day: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString
}

/** Seeded day-by-day event feed: skewed user activity (Zipf-like
  * weights over a seed-permuted user order), sticky per-user event
  * types that switch with probability 1 - StayProb (the SCD2 changes),
  * late arrivals stamped one or two days before their landing day,
  * and null user keys. */
final class EventGen(p: Profile, seed: Long) {
  import Gen._
  private val rnd = new SplittableRandom(seed)
  private var nextId = 0L
  private val state = Array.fill(p.users)(p.eventTypes(rnd.nextInt(p.eventTypes.size)))
  private val cumWeight: Array[Double] = {
    val order = (0 until p.users).toArray
    for (i <- order.indices.reverse) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
    val w = new Array[Double](p.users)
    order.zipWithIndex.foreach { case (u, rank) => w(u) = 1.0 / math.pow(rank + 1, 0.8) }
    w.scanLeft(0.0)(_ + _).tail
  }

  private def pickUser(): Int = {
    val x = rnd.nextDouble() * cumWeight.last
    val i = java.util.Arrays.binarySearch(cumWeight, x)
    if (i >= 0) i else math.min(-i - 1, p.users - 1)
  }

  /** The events landing on `day`, ordered by id. */
  def landing(day: Int): Seq[Event] = {
    val n = (p.eventsPerDay * (0.9 + 0.2 * rnd.nextDouble())).toInt
    Seq.fill(n) {
      val u = pickUser()
      if (rnd.nextDouble() > StayProb) state(u) = p.eventTypes(rnd.nextInt(p.eventTypes.size))
      val late = day > 0 && rnd.nextDouble() < LateShare
      val d = if (late) day - 1 - rnd.nextInt(math.min(day, 2)) else day
      val user: java.lang.Long = if (rnd.nextDouble() < NullUserShare) null else Long.box(u.toLong)
      nextId += 1
      Event(nextId, Epoch2024 + d * DayMicros + rnd.nextLong(DayMicros), user, state(u),
        rnd.nextLong((p.valueMax * 100).toLong))
    }
  }
}

/** One document with its planted role. */
final case class Doc(id: Long, text: String, role: String, pii: Option[String])

/** Seeded document batches drawn from the testdata vocabulary and
  * token-length distribution, with planted exact duplicates and
  * near-duplicates of earlier docs (of this or any earlier batch) and
  * injected PII. A copy always takes a larger id than its source, so
  * the planted copy is the one exact dedup must drop. */
final class DocGen(p: Profile, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private var nextId = 0L
  private val sources = scala.collection.mutable.ArrayBuffer.empty[String]
  private val words = p.vocabulary.map(_._1).toArray
  private val cum = p.vocabulary.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.toArray

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
    words(if (i >= 0) i else math.min(-i - 1, words.length - 1))
  }

  private def length(): Int = {
    val v = p.tokenVentiles
    val x = rnd.nextDouble() * (v.size - 1)
    val i = x.toInt
    math.max(1, math.round(v(i) + (v(math.min(i + 1, v.size - 1)) - v(i)) * (x - i)).toInt)
  }

  private def pii(id: Long): String = rnd.nextInt(3) match {
    case 0 => s"user$id.x${rnd.nextInt(1000)}@mail${rnd.nextInt(50)}.com"
    case 1 => f"+1-${rnd.nextInt(1000)}%03d-${id % 10000}%04d"
    case _ => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${id % 256}"
  }

  def batch(n: Int): Seq[Doc] = Seq.fill(n) {
    nextId += 1
    val r = rnd.nextDouble()
    if (r < 0.05 && sources.nonEmpty)
      Doc(nextId, sources(rnd.nextInt(sources.size)), "exact_dup", None)
    else if (r < 0.10 && sources.nonEmpty) {
      val toks = sources(rnd.nextInt(sources.size)).split(" ")
      val edited = toks.map(t => if (rnd.nextDouble() < 0.05) word() else t)
      Doc(nextId, edited.mkString(" "), "near_dup", None)
    } else {
      val toks = Array.fill(length())(word())
      val secret = if (r < 0.15) Some(pii(nextId)) else None
      secret.foreach(s => toks(rnd.nextInt(toks.length)) = s)
      val text = toks.mkString(" ")
      sources += text
      Doc(nextId, text, "fresh", secret)
    }
  }
}
