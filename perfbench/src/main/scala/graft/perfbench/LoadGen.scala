package graft.perfbench

import java.nio.file.Paths
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.mq.{MqMessage, MqSocketBroker}

/** The load generator, run as its own process against the broker process.
  * Single-threaded with one broker connection; every message is
  * `--words` words drawn from the seeded [[Vocab]].
  *
  *  - `--mode fill`: append `--messages` messages as fast as the broker
  *    takes them (a backlog for a closed-loop drain).
  *  - `--mode open`: open loop. Tick k is due at start + k·tick; each tick
  *    appends its share of `--rate` messages/s with one `appendAll` per
  *    partition, stamping every message with the tick's due time. A late
  *    tick is sent at once and never skipped, so the schedule does not
  *    slow when the system under test does.
  *
  * Writes a JSON report to `--out`: the word tally, per-tick due/start
  * times and partition end offsets, and the timing of every append RPC.
  */
object LoadGen {
  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val parts = a.int("partitions")
    val wordsPer = a.int("words")
    val vocab = new Vocab(a.long("seed"), a.int("vocab"))
    val rnd = new java.util.SplittableRandom(a.long("seed") * 1000003L + a("topic").hashCode)
    val session = MqSocketBroker.connectOrCreate(a("broker"), a("topic"), parts)
    val tally = new Array[Long](vocab.words.length)
    val ends = new Array[Long](parts)
    val appends = ArrayBuffer.empty[Array[Long]] // (start_us, end_us, count)
    var errors = 0L
    var sent = 0L

    def message(dueUs: Long): MqMessage = {
      val ids = Array.fill(wordsPer)(vocab.draw(rnd))
      var len = wordsPer - 1
      ids.foreach(i => len += vocab.bytes(i).length)
      val buf = new Array[Byte](len)
      var pos = 0
      var k = 0
      while (k < wordsPer) {
        if (k > 0) { buf(pos) = ' '.toByte; pos += 1 }
        val w = vocab.bytes(ids(k))
        System.arraycopy(w, 0, buf, pos, w.length)
        pos += w.length
        tally(ids(k)) += 1
        k += 1
      }
      MqMessage(null, buf, dueUs)
    }

    def append(p: Int, msgs: Seq[MqMessage]): Unit = {
      val t0 = Clock.nowUs
      try {
        ends(p) = session.appendAll(p, msgs) + 1
        sent += msgs.size
      } catch { case scala.util.control.NonFatal(_) => errors += 1 }
      appends += Array(t0, Clock.nowUs, msgs.size.toLong)
    }

    val ticks = ArrayBuffer.empty[Seq[Any]]
    a("mode") match {
      case "fill" =>
        val total = a.long("messages")
        val chunk = 4096
        var made = 0L
        var p = 0
        while (made < total) {
          val n = math.min(chunk.toLong, total - made).toInt
          val now = Clock.nowUs
          append(p, Seq.fill(n)(message(now)))
          made += n
          p = (p + 1) % parts
        }
      case "open" =>
        val rate = a.double("rate")
        val tickUs = a.long("tick-ms") * 1000L
        val nTicks = (a.double("seconds") * 1e6 / tickUs).toLong
        val t0 = Clock.nowUs + 20000L
        var made = 0L
        var k = 0L
        while (k < nTicks) {
          val due = t0 + k * tickUs
          val wait = due - Clock.nowUs
          if (wait > 0) LockSupport.parkNanos(wait * 1000L)
          val start = Clock.nowUs
          val target = math.floor(rate * (k + 1) * tickUs / 1e6).toLong
          val n = (target - made).toInt
          val perPart = Array.tabulate(parts)(p => n / parts + (if (p < n % parts) 1 else 0))
          var p = 0
          while (p < parts) {
            if (perPart(p) > 0) append(p, Seq.fill(perPart(p))(message(due)))
            p += 1
          }
          made += n
          ticks += Seq(due, start, n, ends.toSeq)
          k += 1
        }
    }
    session.close()
    val words = vocab.words.indices.collect { case i if tally(i) > 0 => vocab.words(i) -> tally(i) }
    Json.write(Paths.get(a("out")), Map(
      "sent" -> sent,
      "errors" -> errors,
      "tally" -> words.toMap,
      "ticks" -> ticks,
      "appends" -> appends.map(_.toSeq)))
  }
}
