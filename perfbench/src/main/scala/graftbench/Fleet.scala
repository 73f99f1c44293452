package graftbench

import java.sql.Timestamp

import graft.sources.DocsisFixtures

/** Seeded fleet of simulated MB8600 modems. Each tick (one scrape
  * period of `stepSeconds`), every modem answers one HNAP scrape in
  * `DocsisFixtures.payload`'s format. The modems' scrape loops run in
  * `phases` evenly staggered groups, so a tick brings one micro-batch per
  * phase. The generator keeps the values it encoded, so the benchmark can
  * check what the engine stored and aggregated against numbers that never
  * went through it.
  */
final class Fleet(seed: Long, val modems: Int, val stepSeconds: Int, val phases: Int) {
  import Fleet._

  private val rnd = new java.util.SplittableRandom(seed)
  private def nextInt(n: Int): Int = rnd.nextInt(n)

  val names: IndexedSeq[String] = (0 until modems).map(i => f"mb8600-$i%03d")
  private val nDown = Array.fill(modems)(32 + nextInt(3)) // 32-34 QAM + 1 OFDM PLC
  private val nUp = Array.fill(modems)(4 + nextInt(5))    // 4-8
  private val downPower = Array.tabulate(modems)(m => Array.fill(nDown(m) + 1)(nextInt(161) - 80))
  private val upPower = Array.tabulate(modems)(m => Array.fill(nUp(m))(400 + nextInt(120)))
  private val corrected = Array.tabulate(modems)(m => Array.fill(nDown(m) + 1)(nextInt(1000).toLong))
  private val uncorrected = Array.tabulate(modems)(m => Array.fill(nDown(m) + 1)(nextInt(100).toLong))
  private val uptime = Array.fill(modems)(nextInt(30 * 86400).toLong)
  private var tick = 0

  /** The next tick: one scrape per modem, and the rows an OK scrape
    * must become.
    */
  def nextTick(): Tick = {
    val start = StartMs + tick.toLong * stepSeconds * 1000L
    tick += 1
    val scrapes = (0 until modems).map { m =>
      val ts = new Timestamp(start + (m % phases) * stepSeconds * 1000L / phases)
      val ok = nextInt(100) >= 3
      if (nextInt(1000) == 0) { // reboot: uptime and counters restart
        uptime(m) = 0L
        uncorrected(m).indices.foreach(c => uncorrected(m)(c) = 0L)
      } else uptime(m) += stepSeconds
      val chans = (0 to nDown(m)).map { c =>
        val plc = c == nDown(m)
        // OFDM PLC SNR in even tenths, so the engine's x2.5 correction of
        // values under 20 dB stays exact in tenths
        val snr = if (plc) 150 + 2 * nextInt(50) else 340 + nextInt(110)
        corrected(m)(c) += nextInt(50)
        uncorrected(m)(c) += (if (nextInt(4) == 0) nextInt(5) else 0)
        Chan(c + 1, if (plc) "OFDM PLC" else "QAM256", snr, downPower(m)(c),
          corrected(m)(c), uncorrected(m)(c))
      }
      val down = chans.map(ch =>
        s"${ch.id}^Locked^${ch.modulation}^${ch.id}^${483 + 6 * ch.id}.0^" +
          s"${tenths(ch.powerX10)}^${tenths(ch.snrX10)}^${ch.corrected}^${ch.uncorrected}^")
        .mkString("|+|")
      val up = (0 until nUp(m)).map(u =>
        s"${u + 1}^Locked^SC-QAM^${u + 1}^6400^${16 + 6 * u}.4^${tenths(upPower(m)(u))}^")
        .mkString("|+|")
      val secs = uptime(m)
      val upStr = f"${secs / 86400} days ${secs / 3600 % 24}%02dh:${secs / 60 % 60}%02dm:${secs % 60}%02ds"
      val payload = DocsisFixtures.payload(if (ok) "OK" else "UN-AUTH",
        s"cfg-${names(m)}.bin", upStr, "8600-19.3.18", down, up)
      Scrape(payload, names(m), 0.05 + nextInt(200) / 1000.0, ts,
        if (ok) Some(Stored(names(m), ts.getTime, secs, chans.map(_.effective), nUp(m))) else None)
    }
    Tick(new Timestamp(start), scrapes, phases)
  }
}

object Fleet {
  val StartMs: Long = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  val BucketMs: Long = 10 * 60 * 1000L

  private def tenths(x: Int): String = {
    val a = math.abs(x)
    (if (x < 0) "-" else "") + s"${a / 10}.${a % 10}"
  }

  final case class Chan(id: Int, modulation: String, snrX10: Int, powerX10: Int,
      corrected: Long, uncorrected: Long) {
    /** SNR in tenths after the parser's OFDM PLC correction. */
    def effective: Chan =
      if (modulation == "OFDM PLC" && snrX10 < 200) copy(snrX10 = snrX10 * 5 / 2) else this
  }
  /** What one OK scrape must be stored as. */
  final case class Stored(modem: String, tsMs: Long, uptime: Long,
      down: Seq[Chan], upCount: Int)
  final case class Scrape(payload: String, modem: String, latency: Double,
      ts: Timestamp, stored: Option[Stored])
  /** One scrape period from `ts`; modem m scrapes in phase m % phases. */
  final case class Tick(ts: Timestamp, scrapes: Seq[Scrape], phases: Int) {
    def payloadBytes: Long = scrapes.map(_.payload.length.toLong).sum
    /** The scrapes of each phase, in phase order: one micro-batch each. */
    def batches: Seq[Seq[Scrape]] =
      (0 until phases).map(p => scrapes.indices.filter(_ % phases == p).map(scrapes))
  }

  /** Dashboard bucket key and value: (bucket start ms, modem, channel) ->
    * (min SNR x10, sum SNR x10, guarded uncorrected-error increase or
    * null, samples).
    */
  type BucketKey = (Long, String, Int)
  type BucketVal = (Long, Long, Option[Long], Long)

  /** The dashboard's SNR/error buckets over the stored rows at or after
    * `fromMs`, computed directly from the generator's values: per-channel
    * error increase is the step from the previous sample in the window,
    * dropped when negative (a counter reset).
    */
  def dashboard(rows: Seq[Stored], fromMs: Long): Map[BucketKey, BucketVal] = {
    val samples = for {
      r <- rows if r.tsMs >= fromMs
      c <- r.down
    } yield (r.modem, c.id, r.tsMs, c)
    samples.groupBy(s => (s._1, s._2)).toSeq.flatMap { case ((modem, ch), ss) =>
      val sorted = ss.sortBy(_._3).toIndexedSeq
      sorted.indices.map { i =>
        val s = sorted(i)
        val d = if (i == 0) None
          else Some(s._4.uncorrected - sorted(i - 1)._4.uncorrected).filter(_ >= 0)
        ((s._3 - Math.floorMod(s._3, BucketMs), modem, ch), (s._4.snrX10.toLong, d))
      }
    }.groupBy(_._1).map { case (k, vs) =>
      val ds = vs.flatMap(_._2._2)
      k -> (vs.map(_._2._1).min, vs.map(_._2._1).sum,
        if (ds.isEmpty) None else Some(ds.sum), vs.size.toLong)
    }
  }

  /** One modem's panel over its rows at or after `fromMs`: (scrapes, sum
    * of uptimes, last sample ms, downstream channel samples, upstream
    * channel samples).
    */
  def panel(rows: Seq[Stored], modem: String, fromMs: Long): (Long, Long, Long, Long, Long) = {
    val mine = rows.filter(r => r.modem == modem && r.tsMs >= fromMs)
    (mine.size.toLong, mine.map(_.uptime).sum, mine.map(_.tsMs).maxOption.getOrElse(0L),
      mine.map(_.down.size.toLong).sum, mine.map(_.upCount.toLong).sum)
  }
}
