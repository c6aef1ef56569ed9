package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.SplittableRandom

/** Seeded generator of the `etl_convert` input pair: the same logical
  * rows written twice, as a latin1 CSV file and as a latin1 fixed-width
  * PRN file in the Workbook2 shape (column starts at the header names,
  * Credit Limit in integer cents, Birthday as YYYYMMDD).
  *
  * The rows cover every normalize branch: quoted names and addresses
  * containing commas, latin1 letters (ø, ß, é, ...), postcodes with
  * spaces or lowercase, phones with `+`, dashes or spaces, decimal
  * credit limits (with `.` or a quoted `,` separator in the CSV),
  * DD/MM/YYYY birthdays (padded or not) and empty fields that take
  * their defaults. `expected` holds the normalized rows every
  * conversion must produce, in input order.
  */
object EtlGen {

  val Headers: IndexedSeq[String] =
    IndexedSeq("Name", "Address", "Postcode", "Phone", "Credit Limit", "Birthday")

  final case class Pair(csv: Array[Byte], prn: Array[Byte], expected: IndexedSeq[IndexedSeq[String]])

  private val firsts = Array("John", "Paul", "Steve", "Pat", "Mal", "Søren", "José", "Jürgen",
    "Agnès", "Zoë", "Björn", "Élodie", "Grete", "Anaïs")
  private val lasts = Array("Johnson", "Anderson", "Wicket", "Benetar", "Gibson", "Friendly",
    "Smith", "Strauß", "Møller", "Dupré", "Lefèvre", "Ødegård", "Weiß")
  private val streets = Array("Voorstraat", "Dorpsplein", "Mendelssohnstraat", "Driehoog",
    "Vredenburg", "Sint Jansstraat", "Børkestraße", "Rue de l'Église", "Hauptstraße",
    "Smith & Sons Lane", "Allée des Frênes", "Søndergade")
  private val letters = "abcdefghjklmnprstwxyz"

  /** One logical row: the raw cells of each encoding plus the
    * normalized row. */
  private final case class Cells(csv: IndexedSeq[String], prn: IndexedSeq[String], norm: IndexedSeq[String])

  private def row(r: SplittableRandom): Cells = {
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
    def chance(p: Double): Boolean = r.nextDouble() < p
    def letter(): Char = letters.charAt(r.nextInt(letters.length))

    val name =
      if (chance(0.8)) s"${pick(lasts)}, ${pick(firsts)}" else s"${pick(firsts)} ${pick(lasts)}"

    val address =
      if (chance(0.05)) ""
      else {
        val base = s"${pick(streets)} ${1 + r.nextInt(240)}${if (chance(0.3)) letter().toString else ""}"
        if (chance(0.1)) s"$base, bus ${1 + r.nextInt(9)}" else base
      }

    val (postcodeRaw, postcode) = r.nextInt(5) match {
      case 0 => ("", "")
      case 1 =>
        val d = f"${1000 + r.nextInt(9000)}%d"; val l = s"${letter()}${letter()}"
        (s"$d$l", (d + l).toUpperCase) // 3122gg
      case 2 =>
        val d = f"${1000 + r.nextInt(9000)}%d"; val l = s"${letter()}${letter()}".toUpperCase
        (s"$d $l", d + l) // 4532 AA
      case 3 =>
        val d = f"${r.nextInt(100000)}%05d"
        (d, d) // 87823
      case _ =>
        val a = s"${letter()}${letter()}${1 + r.nextInt(9)}"; val b = s"${1 + r.nextInt(9)}${letter()}${letter()}"
        (s"$a $b", (a + b).toUpperCase) // sw1 4ab
    }

    val (phoneRaw, phone) = {
      def digits(n: Int): String = Iterator.fill(n)(('0' + r.nextInt(10)).toChar).mkString
      r.nextInt(5) match {
        case 0 => ("", "")
        case 1 =>
          val (a, b, c) = (digits(2), digits(3), digits(6))
          (s"+$a $b $c", s"+$a$b$c") // +44 728 889838
        case 2 =>
          val (a, b) = (digits(4), digits(6))
          (s"$a-$b", a + b) // 0313-398475
        case 3 =>
          val (a, b) = (digits(3), digits(7))
          (s"$a $b", a + b) // 020 3849381
        case _ =>
          val (a, b, c) = (digits(3), digits(3), digits(4))
          (s"+$a-$b $c", s"+$a$b$c")
      }
    }

    // credit limit in cents: the CSV writes units with optional
    // decimals, the PRN writes the integer cents
    val (creditCsv, creditPrn, credit) =
      if (chance(0.05)) ("", "", "0.00")
      else {
        val cents = r.nextInt(5) match {
          case 0 => 100L * r.nextInt(200000)   // 10000
          case 1 => 10L * r.nextInt(2000000)   // 54.5
          case _ => r.nextInt(20000000).toLong // 9898.37
        }
        val units = cents / 100
        val frac = cents % 100
        val csv =
          if (frac == 0 && chance(0.7)) units.toString
          else if (frac % 10 == 0 && chance(0.7)) s"$units.${frac / 10}"
          else f"$units%d.$frac%02d"
        val csvSep = if (chance(0.1)) csv.replace('.', ',') else csv
        (csvSep, cents.toString, f"$units%d.$frac%02d")
      }

    val (birthCsv, birthPrn, birthday) =
      if (chance(0.05)) ("", "", "")
      else {
        val y = 1940 + r.nextInt(66); val m = 1 + r.nextInt(12); val d = 1 + r.nextInt(28)
        val csv = if (chance(0.5)) f"$d%02d/$m%02d/$y%d" else s"$d/$m/$y"
        (csv, f"$y%04d$m%02d$d%02d", f"$y%04d-$m%02d-$d%02d")
      }

    Cells(
      IndexedSeq(name, address, postcodeRaw, phoneRaw, creditCsv, birthCsv),
      IndexedSeq(name, address, postcodeRaw, phoneRaw, creditPrn, birthPrn),
      IndexedSeq(name, address, postcode, phone, credit, birthday))
  }

  private def csvCell(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + v.replace("\"", "\"\"") + "\""
    else v

  def generate(seed: Long, rows: Int): Pair = {
    val r = new SplittableRandom(seed)
    val cells = IndexedSeq.fill(rows)(row(r))

    val csv = new StringBuilder
    csv.append(Headers.mkString(",")).append('\n')
    cells.foreach(c => csv.append(c.csv.map(csvCell).mkString(",")).append('\n'))

    // fixed-width: each column is as wide as its widest cell plus two
    // spaces; Credit Limit is right-aligned like the Workbook2 file
    val widths = Headers.indices.map { i =>
      (Headers(i).length +: cells.map(_.prn(i).length)).max + 2
    }
    def line(values: IndexedSeq[String]): String = {
      val sb = new StringBuilder
      values.indices.foreach { i =>
        val v = values(i)
        val last = i == values.length - 1
        if (last) sb.append(v)
        else if (i == 4) sb.append(" " * (widths(i) - 1 - v.length)).append(v).append(' ')
        else sb.append(v).append(" " * (widths(i) - v.length))
      }
      sb.toString
    }
    val prn = new StringBuilder
    prn.append(line(Headers)).append('\n')
    cells.foreach(c => prn.append(line(c.prn)).append('\n'))

    Pair(csv.toString.getBytes(ISO_8859_1), prn.toString.getBytes(ISO_8859_1), cells.map(_.norm))
  }
}
