package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** One generated CloudFront request, as the checks see it: the fields
  * the store keeps, with `timeTaken` read back from the text the line
  * carries so both sides hold the same double. `user` and `kind` (the
  * event type) set the line's other fields.
  */
final case class CfRec(tMs: Long, user: Int, kind: String, edge: String,
    country: String, status: Int, bytes: Long, timeTaken: Double) {
  def t: Long = Math.floorDiv(tMs, 1000L)
}

/** Seeded inputs, made without any call into the program: CloudFront
  * real-time log lines in the 40-field tab-delimited format.
  *
  * The traffic has the shape the program's own lines have on the sf0.1
  * `events` table (`CloudFrontPack.synthLines`), as `derive.py` measures
  * it: 1,500 users drawn uniformly, edge `EDGE-(user % 8)` and country
  * `C(user % 20)`, five event types in equal shares mapped to statuses,
  * `value` exponential with mean 49.87 in whole cents, giving
  * sc-bytes = value * 100 + 200 and time-taken = value / 64, and one line
  * per 25.92 s of log time, uniform and in time order.
  */
object Gen {
  /** 2024-01-01T00:00:00Z, where the sf0.1 `events` table starts. */
  val T0: Long = 1704067200L
  val Users = 1500
  val MeanValue = 49.87
  val SecondsPerLine = 25.92
  private val Kinds = Vector("click", "error", "purchase", "signup", "view")
  private def status(kind: String): Int = kind match {
    case "error" => 500
    case "purchase" => 201
    case "view" => 304
    case _ => 200
  }
  private val Agents = Vector("Mozilla/5.0%20(Windows%20NT%2010.0)%20Chrome/120",
    "Mozilla/5.0%20(Macintosh;%20Intel%20Mac%20OS%20X)%20Safari/605.1",
    "curl/7.53.1", "Googlebot/2.1%20(+http://www.google.com/bot.html)",
    "python-requests/2.28")

  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + salt)

  /** Seconds of log time that `n` lines cover. */
  def spanS(n: Int): Long = math.round(n * SecondsPerLine)

  /** `n` requests spread uniformly over [startS, startS + spanS(n)), in
    * time order.
    */
  def cfRecords(r: scala.util.Random, n: Int, startS: Long): Array[CfRec] = {
    val span = spanS(n)
    Array.fill(n)(startS * 1000L + (r.nextDouble() * span * 1000).toLong)
      .sorted.map { tMs =>
        val user = 1 + r.nextInt(Users)
        val kind = Kinds(r.nextInt(Kinds.size))
        val cents = math.round(-MeanValue * 100 * math.log(1 - r.nextDouble()))
        val tt = f"${cents / 6400.0}%.3f".toDouble
        CfRec(tMs, user, kind, s"EDGE-${user % 8}", s"C${user % 20}",
          status(kind), cents + 200L, tt)
      }
  }

  /** The real-time log line for `c`, fields in CloudFront's order. */
  def cfLine(c: CfRec, r: scala.util.Random): String = {
    val id = r.nextInt(1 << 30)
    val reqId = Iterator.fill(20)(
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"(r.nextInt(36))).mkString
    val host = s"d${c.user % 10}.cloudfront.net"
    val result = if (c.kind == "error") "Error"
      else Vector("Hit", "Miss", "RefreshHit")(id % 3)
    val f = Seq(
      f"${c.tMs / 1000}.${c.tMs % 1000}%03d",                // timestamp
      s"10.${c.user % 200}.${id % 250}.7",                  // c-ip
      f"${c.timeTaken / 16}%.3f",                           // time-to-first-byte
      c.status.toString, c.bytes.toString,                  // sc-status, sc-bytes
      if (c.kind == "purchase") "POST" else "GET", "https", host,
      s"/${c.kind}/${id % 100}",                            // cs-uri-stem
      (40 + id % 960).toString,                             // cs-bytes
      c.edge, reqId, host,
      f"${c.timeTaken}%.3f",                                // time-taken
      "HTTP/2.0", "IPv4", Agents(id % Agents.size),
      "-", "-", "-",                                        // referer, cookie, query
      result, "-", "TLSv1.3", "TLS_AES_128_GCM_SHA256", result,
      "-", "-",                                             // fle fields
      "text/html", (c.bytes - 100).toString, "-", "-",      // content len, range
      (40000 + id % 20000).toString,                        // c-port
      result, c.country, "gzip", "*/*", "*",
      "-", "-", "3")                                        // headers
    f.mkString("\t")
  }

  /** Write `lines` to `dir/name` through a hidden temp file and an atomic
    * rename, so a file-source stream never sees a partial file.
    */
  def landFile(dir: Path, name: String, lines: Iterator[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
