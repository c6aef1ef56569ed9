package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The traced run's files: every span, and a summary of each layer's
  * self time with the per-op accounting that shows an op's time is its
  * jobs' time plus the driver time between them. */
object Report {

  /** Self time of each span: its length minus the union of its
    * children's intervals (clipped to it). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.ms - Stats.unionLength(kids))
    }.toMap
  }

  /** Per op: its time, the union of its jobs' time, the driver time
    * outside any job, and whether every job lies inside the op. */
  final case class OpAccount(op: String, run: Long, opMs: Double, jobs: Int, jobMs: Double,
      driverMs: Double, contained: Boolean)

  def accounts(spans: Seq[Span]): Seq[OpAccount] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent))).takeWhile(_.isDefined).map(_.get)
    val jobsByOp = spans.filter(_.name == "job")
      .flatMap(j => ancestors(j).find(_.name == "op").map(_.id -> j)).groupBy(_._1)
    spans.filter(_.name == "op").map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).map(_._2)
      val jobMs = Stats.unionLength(js.map(j => (math.max(j.start, o.start), math.min(j.end, o.end))))
      // listener times are whole milliseconds: allow one either side
      val contained = js.forall(j => j.start >= o.start - 1 && j.end <= o.end + 1)
      OpAccount(o.attrs("op"), o.parent, o.ms, js.size, jobMs, o.ms - jobMs, contained)
    }
  }

  def write(dir: Path, runs: Seq[TracedRun], metrics: Map[String, Double]): String = {
    Files.createDirectories(dir)
    val spans = runs.flatMap(_.spans)
    val w = Files.newBufferedWriter(dir.resolve("spans.jsonl"), UTF_8)
    try spans.foreach(s => { w.write(s.toJson); w.write("\n") }) finally w.close()

    val self = runs.map(r => selfTimes(r.spans))
    val layers = spans.map(_.name).distinct.sorted.map { name =>
      val perRun = runs.zip(self).map { case (r, st) =>
        val named = r.spans.filter(_.name == name)
        (named.size, named.map(_.ms).sum, named.map(s => st(s.id)).sum)
      }
      name -> Json.obj(Seq(
        "spans_per_run" -> Json.num(perRun.map(_._1).sum.toDouble / runs.size),
        "total_ms_per_run" -> Json.num(perRun.map(_._2).sum / runs.size),
        "self_ms_per_run" -> Json.num(perRun.map(_._3).sum / runs.size)))
    }
    val accts = runs.flatMap(r => accounts(r.spans))
    val opJson = accts.map(a => Json.obj(Seq(
      "op" -> Json.str(a.op), "run" -> a.run.toString, "op_ms" -> Json.num(a.opMs),
      "jobs" -> a.jobs.toString, "job_ms" -> Json.num(a.jobMs), "driver_ms" -> Json.num(a.driverMs),
      "jobs_inside_op" -> a.contained.toString)))
    val summary = Json.obj(Seq(
      "layers_self_time" -> Json.obj(layers),
      "ops" -> Json.arr(opJson),
      "all_jobs_inside_their_op" -> accts.forall(_.contained).toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(dir.resolve("summary.json"), (summary + "\n").getBytes(UTF_8))
    s"wrote ${spans.size} spans and a ${layers.size}-layer summary to $dir"
  }
}
