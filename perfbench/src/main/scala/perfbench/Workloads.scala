package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Observation, SparkSession}

import graft.SparkEntry
import graft.operators.{Dedup, Text}
import graft.sinks.SinkRegistry
import graft.sources.SourceRegistry

/** A workload ready to run: its ops in run order and the reset that
  * starts every run. */
final case class Prepared(ops: Seq[Op], prelude: () => Unit)

/** The two workloads. Each `prepare` writes the workload's inputs
  * under `dir` (the set-up step) and returns its ops. */
object Workloads {

  /** The pace, in seconds per run, that fixes each workload's number of
    * timed runs: as many as fill `--seconds` at this pace, at least two,
    * so their count and the op-latency sample count do not depend on how
    * fast the host happens to be. On a 4-core host a run of
    * `etl_convert` takes about 2.7 s and one of `llm_pipeline` 9–10 s,
    * so at 20 s `llm_pipeline` measures three runs, about 28 s. */
  val nominalRunS: Map[String, Double] = Map("etl_convert" -> 2.5, "llm_pipeline" -> 6.5)

  def timedRuns(workload: String, seconds: Double): Int =
    math.max(2, math.round(seconds / nominalRunS(workload)).toInt)

  /** Rows in the ETL input pair. */
  val EtlRows = 5000

  /** Seed of the query workload's corpus snapshot; the committed
    * expectations are digests of results on this snapshot. */
  val SnapshotSeed = 42L

  /** `llm_pipeline`, in pipeline order: a signature kernel, the dedup
    * connected-components loop, its memo's reuse (`dedup_canonical`
    * reads `dedup_clusters`' memo) and a watermarked streaming dedup. */
  val llmOps: Seq[String] =
    Seq("dedup_simhash_pairs", "dedup_clusters", "dedup_canonical", "stream_dedup_watermarked")

  /** Writes the workload's inputs under `dir`: the ETL pair, or a
    * copy of the corpus snapshot (the engine loads its table schemas on
    * first use, in the warm-up). */
  def prepare(workload: String, spark: SparkSession, seed: Long, dir: Path, snapshot: Path,
      expectations: Expectations): Prepared = workload match {
    case "etl_convert" => etl(spark, seed, dir)
    case "llm_pipeline" =>
      copyTree(snapshot, dir)
      Prepared(llmOps.map(query(spark, dir.toString, _, expectations)), resetCaches(spark))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  /** The reset that starts every run of `llm_pipeline`. */
  def resetCaches(spark: SparkSession): () => Unit = () => {
    Dedup.resetMemos()
    Text.resetMemos()
    spark.catalog.clearCache()
  }

  /** A query op: build the frame through the engine's query map, then
    * execute it as a `noop` write that also folds the result digest. */
  def query(spark: SparkSession, dir: String, name: String, expectations: Expectations): Op =
    Op(name, trace => {
      val build = SparkEntry.queries(name)
      val df = trace.phase("operators.build") {
        val df = build(spark, dir)
        trace.analyzed(df)
        df
      }
      val obs = Observation()
      trace.phase("operators.execute") {
        Digest.observe(df, obs).write.format("noop").mode("overwrite").save()
      }
      val digest = Digest.of(obs)
      Outcome(digest.rows, () => expectations.check(name, digest))
    })

  // ---------------------------------------------------------------- ETL

  private def etl(spark: SparkSession, seed: Long, dir: Path): Prepared = {
    val pair = EtlGen.generate(seed, EtlRows)
    val csv = dir.resolve("input.csv")
    val prn = dir.resolve("input.prn")
    Files.createDirectories(dir)
    Files.write(csv, pair.csv)
    Files.write(prn, pair.prn)
    // documents of this run, by output format: the second conversion
    // to a format must be byte-identical to the first
    val documents = mutable.Map.empty[String, String]
    def convert(in: String, path: Path, out: String): Op = Op(s"${in}_to_$out", trace => {
      val df = trace.phase("sources.call", "format" -> in) {
        SourceRegistry(in)(spark, path.toString, SourceRegistry.SourceOptions(",", "ISO-8859-1"))
      }
      val doc = trace.phase("sinks.call", "format" -> out)(SinkRegistry(out)(df))
      Outcome(pair.expected.size, () => {
        EtlCheck.rows(out, doc, pair.expected)
        documents.get(out) match {
          case Some(twin) if twin != doc =>
            throw CheckFailed(s"${in}_to_$out differs from the other input's $out output")
          case Some(_) => ()
          case None => documents(out) = doc
        }
      })
    })
    Prepared(
      Seq(convert("csv", csv, "json"), convert("csv", csv, "html"),
        convert("prn", prn, "json"), convert("prn", prn, "html")),
      () => documents.clear())
  }
}

/** Output checks of the ETL conversions against the generator's
  * normalized rows. */
object EtlCheck {
  private val mapper = new ObjectMapper()
  private val Cell = "(?s)<td>(.*?)</td>".r

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#039;", "'").replace("&amp;", "&")

  def parse(format: String, doc: String): IndexedSeq[IndexedSeq[String]] = format match {
    case "json" =>
      val rows = mapper.readTree(doc)
      (0 until rows.size).map { i =>
        val row = rows.get(i)
        val keys = row.fieldNames().asScala.toIndexedSeq
        if (keys != EtlGen.Headers) throw CheckFailed(s"json row $i has keys $keys")
        keys.map(k => row.get(k).asText())
      }
    case "html" =>
      val body = doc.substring(doc.indexOf("<tbody>"))
      Cell.findAllMatchIn(body).map(m => unescape(m.group(1))).toIndexedSeq
        .grouped(EtlGen.Headers.size).toIndexedSeq
  }

  def rows(format: String, doc: String, expected: IndexedSeq[IndexedSeq[String]]): Unit = {
    val got = parse(format, doc)
    if (got.size != expected.size)
      throw CheckFailed(s"$format output has ${got.size} rows, expected ${expected.size}")
    got.indices.find(i => got(i) != expected(i)).foreach { i =>
      throw CheckFailed(s"$format row $i is ${got(i)}, expected ${expected(i)}")
    }
  }
}
