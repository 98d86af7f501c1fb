package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of ODNS scan archives in the reference's input layout
  * (`<root>/<year>/<protocol>/<protocol>_scan_<yyyy-mm-dd>.csv.gz`,
  * semicolon CSV with a header). The column lists are written out here,
  * not taken from the program, so a change to the program's own column
  * order cannot silently follow the generator.
  *
  * Defects are injected at fixed per-value rates and counted exactly:
  * empty fields anywhere, unparseable timestamps and non-numeric ASNs.
  * The same seed gives byte-identical archives (the gzip header carries no
  * timestamp). */
object Gen {

  val Year = 2026

  val TcpColumns: Seq[String] = Seq(
    "ip_request", "ip_response", "a_record",
    "timestamp_request", "timestamp_response", "response_type",
    "country_request", "asn_request", "prefix_request", "org_request",
    "country_response", "asn_response", "prefix_response", "org_response",
    "country_arecord", "asn_arecord", "prefix_arecord", "org_arecord")
  val UdpColumns: Seq[String] = TcpColumns.filterNot(_ == "timestamp_response")

  def columns(protocol: String): Seq[String] =
    if (protocol == "tcp") TcpColumns else UdpColumns

  val TimestampFields = Set("timestamp_request", "timestamp_response")
  val AsnFields = Set("asn_request", "asn_response", "asn_arecord")

  val EmptyRate = 0.02
  val BadTimestampRate = 0.01
  val BadAsnRate = 0.01
  private val BadTimestamps = Array("N/A", "2026-08-01 25:61:00.000000", "1754006400")
  private val BadAsns = Array("AS3320", "n/a", "-")
  private val Countries = Array("DE", "US", "FR", "NL", "JP", "BR", "IN", "RU", "CN", "ZA")
  private val ResponseTypes = Array("A", "NOERROR", "REFUSED", "SERVFAIL", "NXDOMAIN")

  /** One written archive: its rows, and per CSV field the number of empty
    * raw values and of non-empty values the typers must turn into NULL. */
  final case class Archive(path: Path, protocol: String, date: String, rows: Long,
      empties: Map[String, Long], rejects: Map[String, Long]) {
    /** NULLs the typed 20-column row must carry in `field`. */
    def expectedNulls(field: String): Long =
      if (!columns(protocol).contains(field)) rows
      else empties.getOrElse(field, 0L) + rejects.getOrElse(field, 0L)
  }

  def archiveName(protocol: String, date: String, ext: String = "csv.gz"): String =
    s"${protocol}_scan_$date.$ext"

  def protocolDir(root: Path, protocol: String): Path =
    root.resolve(Year.toString).resolve(protocol)

  def date(offsetDays: Int): String =
    LocalDate.of(Year, 8, 1).plusDays(offsetDays.toLong).toString

  private def ip(r: SplittableRandom): String =
    s"${r.nextInt(1, 224)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(1, 255)}"

  private def two(i: Int): String = if (i < 10) "0" + i else i.toString

  private def timestamp(date: String, micros: Long): String = {
    val secs = micros / 1000000L
    val frac = (micros % 1000000L).toString
    s"$date ${two((secs / 3600).toInt)}:${two((secs / 60 % 60).toInt)}:${two((secs % 60).toInt)}." +
      ("0" * (6 - frac.length)) + frac
  }

  /** Write one archive of `rows` data rows for `protocol` scanned on `date`. */
  def write(dir: Path, protocol: String, date: String, rows: Int, seed: Long,
      ext: String = "csv.gz"): Archive = {
    Files.createDirectories(dir)
    val cols = columns(protocol)
    val r = new SplittableRandom(seed ^ (protocol.hashCode.toLong << 32) ^ date.hashCode)
    val empties = new Array[Long](cols.length)
    val rejects = new Array[Long](cols.length)
    val path = dir.resolve(archiveName(protocol, date, ext))
    val raw = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    val w: Writer = new OutputStreamWriter(
      if (ext.endsWith("gz")) new GZIPOutputStream(raw, 1 << 16) else raw,
      StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(256)
    try {
      w.write(cols.mkString(";")); w.write('\n')
      var i = 0
      while (i < rows) {
        sb.setLength(0)
        val tReq = r.nextLong(86400L * 1000000L - 5000000L)
        val requestIp = ip(r)
        var c = 0
        while (c < cols.length) {
          val name = cols(c)
          val value =
            if (r.nextDouble() < EmptyRate) { empties(c) += 1; "" }
            else if (TimestampFields(name) && r.nextDouble() < BadTimestampRate) {
              rejects(c) += 1; BadTimestamps(r.nextInt(BadTimestamps.length))
            } else if (AsnFields(name) && r.nextDouble() < BadAsnRate) {
              rejects(c) += 1; BadAsns(r.nextInt(BadAsns.length))
            } else name match {
              case "ip_request" => requestIp
              case "ip_response" | "a_record" => ip(r)
              case "timestamp_request" => timestamp(date, tReq)
              case "timestamp_response" => timestamp(date, tReq + r.nextInt(1, 4000000))
              case "response_type" => ResponseTypes(r.nextInt(ResponseTypes.length))
              case n if n.startsWith("country") => Countries(r.nextInt(Countries.length))
              case n if n.startsWith("asn") => r.nextInt(1, 400000).toString
              case n if n.startsWith("prefix") =>
                s"${r.nextInt(1, 224)}.${r.nextInt(256)}.${r.nextInt(256)}.0/24"
              case _ => s"Org ${r.nextInt(5000)} Networks"
            }
          if (c > 0) sb.append(';')
          sb.append(value)
          c += 1
        }
        sb.append('\n')
        w.append(sb)
        i += 1
      }
    } finally w.close()
    def counts(a: Array[Long]): Map[String, Long] =
      cols.zip(a).filter(_._2 > 0).toMap
    Archive(path, protocol, date, rows.toLong, counts(empties), counts(rejects))
  }
}
