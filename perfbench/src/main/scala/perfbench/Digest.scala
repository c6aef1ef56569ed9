package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A query result's digest: its row count and an order-independent
  * hash, the sum over rows of `xxhash64` of the columns sorted by
  * name, kept modulo 2^64 as 16 hex digits. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"rows=$rows hash=$hash"
}

object Digest {

  /** `df` with the digest aggregates attached as an observation: the
    * action run on the returned frame executes `df`'s own plan and
    * fills the observation in passing. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    // positional names: a result may repeat a column name
    val names = df.columns
    val positional = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cols = names.indices.sortBy(i => (names(i), i)).map(i => col(s"c$i"))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    positional.observe(obs,
      count(lit(1)).as("rows"),
      sum(rowHash.cast(DecimalType(38, 0))).as("hash"))
  }

  /** Reads the observation filled by the action. */
  def of(obs: Observation): Digest = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val sum = Option(m("hash")).map(v => new java.math.BigDecimal(v.toString).toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    Digest(rows, f"${sum.longValue()}%016x")
  }
}

/** Committed digests of the query ops' results on the corpus snapshot,
  * one `name<TAB>rows<TAB>hash` line per op. */
class Expectations(val byName: Map[String, Digest]) {

  /** Throws [[CheckFailed]] when `got` differs from the expectation. */
  def check(name: String, got: Digest): Unit = byName.get(name) match {
    case None => throw CheckFailed(s"$name: no expected digest")
    case Some(want) if want != got => throw CheckFailed(s"$name: expected $want, got $got")
    case _ => ()
  }
}

object Expectations {
  def parse(lines: Seq[String]): Expectations = new Expectations(
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> Digest(rows.toLong, hash)
    }.toMap)

  def load(path: Path): Expectations = parse(Files.readAllLines(path, UTF_8).asScala.toSeq)

  def render(digests: Seq[(String, Digest)]): String =
    digests.sortBy(_._1).map { case (n, d) => s"$n\t${d.rows}\t${d.hash}\n" }.mkString
}

/** An op's output did not match its expectation. */
final case class CheckFailed(message: String) extends RuntimeException(message)
