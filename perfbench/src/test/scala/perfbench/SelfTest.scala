package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's self-tests: `cd perfbench && sbt test`. */
class SelfTest extends AnyFunSuite {

  // ---- ETL generator ----

  /** RFC-4180 split of one CSV line. */
  private def csvFields(line: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
        else if (c == '"') quoted = false
        else cur.append(c)
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** The normalization rules of the ETL surface, written out apart
    * from the generator: whitespace-free upper-case postcodes, digit
    * phones keeping a leading `+`, two-decimal credit limits (cents in
    * the PRN file), ISO birthdays. */
  private def normalize(cells: IndexedSeq[String], prn: Boolean): IndexedSeq[String] = {
    val Seq(name, address, postcode, phone, credit, birthday) = cells.map(_.trim)
    val creditOut =
      if (credit.isEmpty) "0.00"
      else if (prn) BigDecimal(credit).bigDecimal.movePointLeft(2).setScale(2).toPlainString
      else BigDecimal(credit.replace(',', '.')).setScale(2).toString
    val Dmy = """(\d{1,2})/(\d{1,2})/(\d{4})""".r
    val Ymd = """(\d{4})(\d{2})(\d{2})""".r
    val birthdayOut = birthday match {
      case Dmy(d, m, y) => f"$y-${m.toInt}%02d-${d.toInt}%02d"
      case Ymd(y, m, d) => s"$y-$m-$d"
      case other        => other
    }
    val phoneOut = (if (phone.startsWith("+")) "+" else "") + phone.filter(_.isDigit)
    IndexedSeq(name, address, postcode.filterNot(_.isWhitespace).toUpperCase, phoneOut, creditOut, birthdayOut)
  }

  private def lines(bytes: Array[Byte]): IndexedSeq[String] =
    new String(bytes, ISO_8859_1).split("\n").toIndexedSeq

  test("ETL generator: the same seed gives the same bytes") {
    val a = EtlGen.generate(7, 500)
    val b = EtlGen.generate(7, 500)
    val c = EtlGen.generate(8, 500)
    assert(a.csv.sameElements(b.csv) && a.prn.sameElements(b.prn) && a.expected == b.expected)
    assert(!a.csv.sameElements(c.csv) && !a.prn.sameElements(c.prn))
  }

  test("ETL generator: the CSV and PRN files encode the same rows") {
    val pair = EtlGen.generate(11, 2000)
    val csv = lines(pair.csv)
    assert(csvFields(csv.head) == EtlGen.Headers)
    val fromCsv = csv.tail.map(l => normalize(csvFields(l), prn = false))

    val prn = lines(pair.prn)
    val starts = EtlGen.Headers.map(h => prn.head.indexOf(h))
    assert(starts == starts.sorted && !starts.contains(-1))
    val ends = starts.tail :+ prn.head.length
    val fromPrn = prn.tail.map { l =>
      starts.zip(ends).map { case (s, e) => if (s >= l.length) "" else l.substring(s, math.min(e, l.length)) }
    }.map(normalize(_, prn = true))

    assert(fromCsv == pair.expected)
    assert(fromPrn == pair.expected)
  }

  test("ETL generator: every normalize branch is covered") {
    val pair = EtlGen.generate(3, 2000)
    val csv = new String(pair.csv, ISO_8859_1)
    val rows = pair.expected
    assert(csv.contains("\"") && Seq("ø", "ß", "é").forall(csv.contains))
    assert(lines(pair.csv).tail.map(csvFields).exists(r => r(2).exists(_.isWhitespace)))
    assert(lines(pair.csv).tail.map(csvFields).exists(r => r(2).exists(_.isLower)))
    assert(Seq("+", "-", " ").forall(ch => lines(pair.csv).tail.map(csvFields).exists(_(3).contains(ch))))
    assert(lines(pair.csv).tail.map(csvFields).exists(r => r(4).contains(".") || r(4).contains(",")))
    assert(lines(pair.csv).tail.map(csvFields).exists(_(5).matches("""\d{1,2}/\d{1,2}/\d{4}""")))
    assert(rows.exists(_(4) == "0.00") && rows.exists(_(5) == "") && rows.exists(_(1) == ""))
  }

  // ---- corpus snapshot generator ----

  test("corpus generator: the same seed gives the same tables, one document in twenty a copy") {
    val Seq((_, _, docs), (_, _, events)) = TableGen.tables(42)
    assert(TableGen.tables(42).map(_._3) == Seq(docs, events))
    assert(docs.size == TableGen.Documents && events.size == TableGen.Events)
    val texts = docs.map(_.getString(1))
    assert(texts.count(_.endsWith(" dup")) == TableGen.Documents / 20)
    assert(texts.map(_.split(" ").count(_ != "dup")).forall(n => n >= 10 && n <= 99))
  }

  // ---- tail percentile rule ----

  test("op tail: the highest percentile with at least 10 samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == Stats.Tail(90, 90.0, 100, 10))
    val t26 = Stats.tail((1 to 26).map(_.toDouble))
    assert(t26.percentile == 61 && t26.beyond == 10 && t26.value == 16.0)
    for (n <- 20 to 400) {
      val t = Stats.tail((1 to n).map(_.toDouble).reverse)
      assert(t.beyond >= 10, s"n=$n")
      assert(t.percentile == 99 || n - Stats.rank(t.percentile + 1, n) < 10, s"n=$n is not the highest")
      assert(t.value == Stats.rank(t.percentile, n).toDouble)
    }
    // below 20 samples no percentile from the median up has 10 beyond it
    for (n <- 1 to 19)
      assert(Stats.tail((1 to n).map(_.toDouble).reverse) == Stats.Tail(100, n.toDouble, n, 0), s"n=$n")
  }

  test("interval union") {
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))) == 4.0)
  }

  // ---- output checks and failure accounting ----

  private val good = Digest(42, "00000000deadbeef")

  private def digestOp(expect: Expectations): Op =
    Op("q_demo", _ => Outcome(good.rows, () => expect.check("q_demo", good)))

  test("a corrupted expectation digest is reported as a failed op") {
    val right = Expectations.parse(Seq(s"q_demo\t42\t00000000deadbeef"))
    val corrupted = Expectations.parse(Seq(s"q_demo\t42\t00000000deadbeee"))
    val run = Runner.run(Seq(digestOp(right), digestOp(corrupted)), () => (), Trace.Off)
    assert(run.ops(0).ok)
    assert(!run.ops(1).ok && run.ops(1).failure.get.startsWith(classOf[CheckFailed].getName))
    assert(run.rows == 42, "a failed op delivers no rows")
  }

  test("an op that throws is recorded with its exception class") {
    val boom = Op("boom", _ => throw new ArithmeticException("divide by zero"))
    val (r, _) = Runner.runOp(boom, Trace.Off)
    assert(r.failure.contains("java.lang.ArithmeticException: divide by zero"))
  }

  test("the committed expectations cover every query op") {
    val e = Expectations.load(Paths.get("expected", "digests.tsv"))
    assert(Workloads.llmOps.forall(e.byName.contains))
  }

  // ---- trace accounting ----

  test("an op's time is its jobs' time plus the driver time between them") {
    val spans = Seq(
      Span(1, "run", 0, 0, 100),
      Span(2, "op", 1, 0, 60, Map("op" -> "a")),
      Span(3, "operators.execute", 2, 5, 55),
      Span(4, "job", 3, 10, 30),
      Span(5, "job", 3, 25, 40),
      Span(6, "stage", 4, 11, 29))
    val Seq(a) = Report.accounts(spans)
    assert(a.jobs == 2 && a.jobMs == 30.0 && a.driverMs == 30.0 && a.contained)
    val self = Report.selfTimes(spans)
    assert(self(2) == 10.0 && self(3) == 20.0 && self(4) == 2.0 && self(6) == 18.0)
  }
}
