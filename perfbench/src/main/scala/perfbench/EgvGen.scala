package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** A Kafka record as the source delivers it: key, JSON value, and the
  * producer timestamp, which here is the event's due send time. */
final case class KafkaRec(key: String, value: String, timestamp: java.sql.Timestamp)

/** One generated EGV: its sink doc id and record payload. */
final case class GenEvent(id: String, key: String, value: String)

/** Seeded generator of Dexcom EGV records.
  *
  * Sensor keys follow a Zipf law over [[EgvGen.Sensors]] keys; each sensor reports every 5 minutes from its own start time of day,
  * so `systemTime` values cycle through all three fixture ranges and
  * (key, systemTime) is unique per event. Records carry all eight `Egv`
  * fields. The program sees only these records. */
final class EgvGen(seed: Long) {
  import EgvGen._
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Sensors)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val emitted = new Array[Int](Sensors)
  private val startSec: Array[Long] = {
    val day0 = LocalDateTime.of(2020, 11, 2, 0, 0).toEpochSecond(ZoneOffset.UTC)
    Array.fill(Sensors)(day0 + rnd.nextInt(86400 / 300) * 300L)
  }
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val trends = Array("doubleDown", "singleDown", "fortyFiveDown", "flat",
    "fortyFiveUp", "singleUp", "doubleUp")

  private def sensor(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Sensors - 1)
  }

  private def time(sec: Long): String =
    LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(fmt)

  def next(): GenEvent = {
    val s = sensor()
    val sec = startSec(s) + emitted(s) * 300L
    emitted(s) += 1
    val key = f"sensor-$s%06d"
    val systemTime = time(sec)
    val value = 40 + rnd.nextInt(361)
    val status = if (value < 55) "low" else if (value > 350) "high" else "ok"
    val trendRate = (rnd.nextInt(61) - 30) / 10.0f
    val json =
      s"""{"systemTime":"$systemTime","displayTime":"${time(sec - 8 * 3600)}",""" +
        s""""value":$value,"realtimeValue":$value,"smoothedValue":${value + rnd.nextInt(5) - 2},""" +
        s""""status":"$status","trend":"${trends(rnd.nextInt(trends.length))}","trendRate":$trendRate}"""
    // The id IdempotentBulkSink.docId(Seq("key", "systemTime")) gives.
    GenEvent(s"${key.length}:${key}_${systemTime.length}:$systemTime", key, json)
  }

  def take(n: Int): Array[GenEvent] = Array.fill(n)(next())
}

object EgvGen {
  /** The population the low live rate implies: 2,000 events/s at one EGV
    * per sensor every 5 minutes. */
  val Sensors: Int = StreamBench.LoRate * 300
  /** Key skew: the Zipfian constant of YCSB's default request
    * distribution (Cooper et al., SoCC 2010). */
  val ZipfS = 0.99
}
