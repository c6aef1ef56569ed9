package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the query ops' corpus snapshot: the two parquet
  * tables `llm_pipeline`'s ops read, `documents` and `events`, with the
  * column names, types, row counts and value shapes of the engine's
  * 0.1 scale factor test tables.
  *
  * The shapes that decide the dedup and streaming work were read off
  * those tables and are reproduced here: documents of 10 to 99 words
  * over one 30-word vocabulary; exactly one document in twenty
  * (distinct documents) overwritten by a copy of a random document plus
  * `" dup"`, in sequence, so a copy of a copy (`" dup dup"`) and two
  * copies of one document occur; events spread uniformly over 30 days,
  * 100 distinct `props` values, one user id per ten customers.
  *
  * Rows are drawn on the driver from one `SplittableRandom` per table,
  * so the bytes depend on the seed only, never on the core count or
  * partitioning.
  */
object TableGen {

  /** Row counts of the 0.1 scale factor. */
  val Documents = 5000
  val Events = 100000
  val Users = 1500

  private val words = Array("a", "the", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector", "window")
  private val otherLangs = Array("de", "es", "fr", "zh")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val eventSpan = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val spanMicros = 30L * 86400L * 1000000L

  private def field(name: String, t: DataType): StructField = StructField(name, t, nullable = true)

  /** The document texts, near-duplicates included. */
  private def texts(r: SplittableRandom): Array[String] = {
    val texts = Array.fill(Documents)(Iterator.fill(10 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" "))
    // Fisher-Yates prefix: Documents / 20 distinct targets
    val order = Array.range(0, Documents)
    for (k <- 0 until Documents / 20) {
      val j = k + r.nextInt(Documents - k)
      val target = order(j); order(j) = order(k); order(k) = target
      texts(target) = texts(r.nextInt(Documents)) + " dup"
    }
    texts
  }

  /** name -> (schema, rows). */
  def tables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

    val documents = {
      val r = rng(7)
      val text = texts(r)
      text.indices.map { i =>
        // en 40 %, each other language 15 %
        val k = r.nextInt(20)
        val lang = if (k < 8) "en" else otherLangs((k - 8) / 3)
        Row(i.toLong, text(i), lang, s"src${i % 20}", text(i).length.toLong)
      }
    }
    val events = {
      val r = rng(6)
      val ts = Array.fill(Events)(r.nextLong(spanMicros)).sorted
      ts.indices.map { i =>
        Row(i.toLong, eventSpan.plusNanos(ts(i) * 1000), r.nextInt(Users).toLong,
          eventTypes(r.nextInt(eventTypes.length)),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
      }
    }
    Seq(
      ("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
        documents),
      ("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampNTZType),
        field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))), events))
  }

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    tables(seed).foreach { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
