package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --snapshot <dir> --launch-ms <epoch ms>
  * perfbench.Main --write-snapshot --snapshot <dir>
  * perfbench.Main --capture <file> --work <dir> --snapshot <dir>
  * }}}
  *
  * `--write-snapshot` writes the query workloads' corpus snapshot, once
  * per build. Set-up builds one
  * `GraftSession.local(cores)` session, prepares the workload's inputs
  * three times (the median counts): the ETL pair, or a copy of the
  * snapshot; then it runs the op list once, cold, as warm-up. Then it
  * runs the op list, closed loop, as many times as fill `--seconds` at
  * the workload's nominal run time, checking every output. The last line
  * on stdout is the result object; everything else goes to stderr and
  * to `<work>/report.json`. `--trace 1` alternates untraced and traced
  * runs (as many in all) and reports the per-layer metrics of the traced
  * ones, writing
  * the spans and a self-time summary under `<work>/trace`.
  *
  * `--capture` writes the digests of every query op on the corpus
  * snapshot, the expectations file's content, after checking that two
  * cold runs of each op agree.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0, seconds: Double = 10, trace: Boolean = false,
      work: Path = Paths.get("."), snapshot: Path = Paths.get("snapshot"), launchMs: Double = Double.NaN,
      capture: Option[Path] = None, writeSnapshot: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest  => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest      => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest   => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest     => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest      => parse(rest, a.copy(work = Paths.get(v)))
    case "--launch-ms" :: v :: rest => parse(rest, a.copy(launchMs = v.toDouble))
    case "--capture" :: v :: rest   => parse(rest, a.copy(capture = Some(Paths.get(v))))
    case "--snapshot" :: v :: rest  => parse(rest, a.copy(snapshot = Paths.get(v)))
    case "--write-snapshot" :: rest => parse(rest, a.copy(writeSnapshot = true))
    case Nil                        => a
    case other :: _                 => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** The expectations file, resolved from the benchmark's directory. */
  def expectationsFile: Path = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"))
    .resolve("expected").resolve("digests.tsv")

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val args = parse(argv.toList)
    val cores = Runtime.getRuntime.availableProcessors
    val (spark, sessionS) = seconds(GraftSession.local(cores, "perfbench"))
    try {
      if (args.writeSnapshot) {
        GraftSession.sweep(args.snapshot)
        TableGen.write(spark, Workloads.SnapshotSeed, args.snapshot.toString)
        log(s"wrote the corpus snapshot to ${args.snapshot}")
      } else args.capture match {
        case Some(out) => capture(spark, args.snapshot, out)
        case None => bench(spark, args, cores, sessionS, (mainMs - args.launchMs) / 1000)
      }
    } finally spark.stop()
  }

  /** The fixed host probes: a CPU calibration job and ten empty jobs. */
  private def probes(spark: SparkSession): (Double, Double) = {
    val (_, cpu) = seconds(spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id * 2 + 1)").collect())
    val (_, latency) = seconds((1 to 10).foreach(_ => spark.range(1L).count()))
    (cpu, latency)
  }

  private def bench(spark: SparkSession, args: Args, cores: Int, sessionS: Double, launchS: Double): Unit = {
    val expectations = Expectations.load(expectationsFile)
    // set-up, three times: each writes the inputs to a fresh directory
    val inputs = (1 to 3).map { k =>
      val dir = args.work.resolve(s"inputs-$k")
      GraftSession.sweep(dir)
      seconds(Workloads.prepare(args.workload, spark, args.seed, dir, args.snapshot, expectations))
    }
    val inputsS = Stats.median(inputs.map(_._2))
    val prepared = inputs.last._1
    val (warm, warmS) = seconds(Runner.run(prepared.ops, prepared.prelude, Trace.Off))
    val setupS = launchS + sessionS + inputsS + warmS
    log(f"set-up $setupS%.3f s: launch $launchS%.3f, session $sessionS%.3f, inputs $inputsS%.3f " +
      f"(${inputs.map(_._2).map(x => f"$x%.3f").mkString(" ")}), warm-up $warmS%.3f")

    val probeBefore = probes(spark)
    val tracer = if (args.trace) Some(new Tracer(spark, cores)) else None
    val untraced = mutable.ArrayBuffer.empty[RunResult]
    val traced = mutable.ArrayBuffer.empty[(RunResult, TracedRun)]
    val heaps = mutable.ArrayBuffer.empty[Double]
    val timedRuns = Workloads.timedRuns(args.workload, args.seconds)
    // tracing splits the same number of runs between untraced and traced
    val (untracedRuns, tracedRuns) =
      if (tracer.isEmpty) (timedRuns, 0) else ((timedRuns + 1) / 2, math.max(1, timedRuns / 2))
    while (untraced.size < untracedRuns || traced.size < tracedRuns) {
      // untraced runs alternate with traced ones when tracing
      tracer.filter(_ => untraced.size > traced.size) match {
        case Some(t) =>
          var result: RunResult = null
          val run = t.run(s"run-${traced.size + 1}") {
            result = Runner.run(prepared.ops, prepared.prelude, t)
          }
          traced += ((result, run))
        case None =>
          untraced += Runner.run(prepared.ops, prepared.prelude, Trace.Off)
          heaps += Runner.retainedHeapMb()
      }
    }
    val probeAfter = probes(spark)

    val runs = untraced.toSeq ++ traced.map(_._1)
    val allOps = warm.ops ++ runs.flatMap(_.ops)
    val failures = allOps.filterNot(_.ok)
    failures.foreach(f => log(s"FAILED ${f.name}: ${f.failure.get}"))
    if (!untraced.exists(_.ops.exists(_.ok))) throw new IllegalStateException("no op completed")

    // each op's latencies apart: ops of very different cost never share a percentile
    val byOp = untraced.flatMap(_.ops).filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, rs) => (n, Stats.median(rs.map(_.seconds).toSeq), Stats.tail(rs.map(_.seconds).toSeq)) }
    val runS = Stats.median(untraced.map(_.seconds).toSeq)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", runS, "s"),
      ("op_p50_s", Stats.geomean(byOp.map(_._2)), "s"),
      ("op_tail_s", Stats.geomean(byOp.map(_._3.value)), "s"),
      ("heap_retained_mb", Stats.median(heaps.toSeq), "MB"))
    val perLayer: Seq[(String, Double, String)] = tracer.map { _ =>
      val runsT = traced.map(_._2).toSeq
      val medians = runsT.head.metrics.keys.toSeq.sorted.map(k => k -> Stats.median(runsT.map(_.metrics(k))))
      val overhead = Stats.median(traced.map(_._1.seconds).toSeq) - runS
      log(Report.write(args.work.resolve("trace"), runsT, medians.toMap + ("trace.overhead_s" -> overhead)))
      (("session.build_s", sessionS) +: medians :+ ("trace.overhead_s", overhead))
        .map { case (k, v) => (k, v, PerLayer.unit(k)) }
    }.getOrElse(Nil)

    val fail = failures.size.toDouble / allOps.size
    val stamps = Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString, "cores" -> cores.toString,
      "ops" -> Json.arr(prepared.ops.map(o => Json.str(o.name))),
      "timed_runs" -> untraced.size.toString, "traced_runs" -> traced.size.toString,
      "run_s_each" -> Json.arr(untraced.map(r => Json.num(r.seconds)).toSeq),
      "fail_ratio" -> Json.num(fail),
      "failures" -> Json.arr(failures.map(f => Json.str(s"${f.name}: ${f.failure.get}"))),
      "op_median_s" -> Json.obj(byOp.map { case (n, p50, _) => n -> Json.num(p50) }),
      "op_tail" -> Json.obj(byOp.map { case (n, _, t) => n -> Json.obj(Seq("value_s" -> Json.num(t.value),
        "percentile" -> t.percentile.toString, "samples" -> t.samples.toString)) }),
      "probe_before" -> Json.obj(Seq("cpu_s" -> Json.num(probeBefore._1), "ten_jobs_s" -> Json.num(probeBefore._2))),
      "probe_after" -> Json.obj(Seq("cpu_s" -> Json.num(probeAfter._1), "ten_jobs_s" -> Json.num(probeAfter._2)))) ++
      // converted rows per second: context only, as the row count is fixed
      (if (args.workload == "etl_convert")
        Seq("rows_per_s" -> Json.num(Stats.median(untraced.map(r => r.rows / r.seconds).toSeq)))
      else Nil)
    val shown = if (args.trace) perLayer else endToEnd
    val metrics = Json.obj(shown.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Files.write(args.work.resolve("report.json"),
      (Json.obj(stamps ++ Seq("metrics" -> metrics)) + "\n").getBytes(UTF_8))
    shown.foreach { case (k, v, u) => log(f"$k%-26s $v%.6g $u") }
    log(byOp.map { case (n, _, t) => s"$n tail p${t.percentile} of ${t.samples}" }.mkString("op_tail_s: ", ", ", "; ") +
      f"fail_ratio $fail%.4f; " +
      f"probes before cpu ${probeBefore._1}%.3f s / ten jobs ${probeBefore._2}%.3f s, " +
      f"after ${probeAfter._1}%.3f s / ${probeAfter._2}%.3f s")
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> allOps.size.toString,
      "failed" -> failures.size.toString,
      "metrics" -> metrics)))
  }

  /** Digests of every query op, checked to repeat across two cold runs. */
  private def capture(spark: SparkSession, dir: Path, out: Path): Unit = {
    val names = Workloads.llmOps
    val seen = mutable.Map.empty[String, Seq[Digest]].withDefaultValue(Nil)
    val recorder = new Expectations(Map.empty) {
      override def check(name: String, got: Digest): Unit = seen(name) = seen(name) :+ got
    }
    for (_ <- 1 to 2) {
      val ops = names.map(Workloads.query(spark, dir.toString, _, recorder))
      Runner.run(ops, Workloads.resetCaches(spark), Trace.Off)
        .ops.filterNot(_.ok).foreach(f => throw new IllegalStateException(s"${f.name}: ${f.failure.get}"))
    }
    val unstable = seen.filter(_._2.distinct.size != 1)
    if (unstable.nonEmpty) throw new IllegalStateException(s"digests differ between runs: $unstable")
    Files.write(out, Expectations.render(seen.toSeq.map { case (n, ds) => n -> ds.head }).getBytes(UTF_8))
    log(s"wrote ${seen.size} digests to $out from the snapshot in $dir")
  }
}

/** Units of the per-layer metrics, by name suffix. */
object PerLayer {
  def unit(name: String): String = name match {
    case n if n.endsWith("_s")     => "s"
    case n if n.endsWith("_ms")    => "ms"
    case n if n.endsWith("_mb")    => "MB"
    case n if n.endsWith("bytes")  => "bytes"
    case n if n.endsWith("_util")  => "ratio"
    case n if n == "scan.records" || n == "streaming.state_rows" => "rows"
    case _                         => "count"
  }
}
