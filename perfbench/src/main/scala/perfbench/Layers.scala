package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Per-layer numbers of a traced run. The metrics are the medians over
  * timed iterations of what each Spark layer did inside the iteration's
  * timed spans — every workload measures all of them. The per-call
  * breakdown (`<module>.<function>.<counter>`, over the timed iterations
  * and the calls timed in set-up) goes to stdout and, with every span,
  * to the trace file. */
object Layers {

  private def plus(a: Trace.Counters, b: Trace.Counters) = Trace.Counters(
    a.wallMs + b.wallMs, a.planMs + b.planMs, a.driverMs + b.driverMs, a.jobs + b.jobs,
    a.stages + b.stages, a.tasks + b.tasks, a.taskMs + b.taskMs, a.shuffleMb + b.shuffleMb,
    a.resultMb + b.resultMb, a.outputMb + b.outputMb, a.spillMb + b.spillMb, a.rowsRead + b.rowsRead)

  def report(
      t: Trace,
      iterations: Int,
      timedWallS: Double,
      a: Main.Args,
      path: String): Seq[(String, Double, String)] = {
    val spans = t.allSpans
    val c = t.counters
    // an iteration's timed parts are its top-level spans (checks aside);
    // the per-call table adds the calls timed in set-up (index builds)
    val parts = spans.filter(s => s.parent == -1 && !s.name.startsWith("check.") &&
      (s.iteration >= 0 || s.iteration == Trace.setupIteration))
    val iters = parts.filter(_.iteration >= 0).groupBy(_.iteration).values.toSeq
      .map(ps => (ps, ps.map(s => c(s.id)).reduce(plus)))
    val byParent = spans.groupBy(_.parent)
    def med(f: Trace.Counters => Double) = Main.median(iters.map(i => f(i._2)))
    def coverage(ps: Seq[Trace.Span]) =
      ps.flatMap(p => byParent.getOrElse(p.id, Nil)).map(_.wallNs).sum.toDouble /
        math.max(1L, ps.map(_.wallNs).sum)

    val partIds = parts.map(_.id).toSet
    val calls = spans.filter(s => partIds(s.parent))
    val table = calls.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val cs = ss.map(s => c(s.id))
      def m(f: Trace.Counters => Double) = Main.median(cs.map(f))
      val rowsOut = name match {
        case "ext.Search.indexTopK" => Serve.k.toDouble
        case "ext.Similarity.probeIndex" => (Serve.k * Serve.probeBatch).toDouble
        case _ => 0.0
      }
      name -> (Seq(
        "calls" -> ss.size.toDouble,
        "wall_ms" -> m(_.wallMs), "plan_ms" -> m(_.planMs), "driver_ms" -> m(_.driverMs),
        "jobs" -> m(_.jobs.toDouble), "task_ms" -> m(_.taskMs), "shuffle_mb" -> m(_.shuffleMb),
        "result_mb" -> m(_.resultMb), "output_mb" -> m(_.outputMb)) ++
        (if (rowsOut > 0) Seq("rows_read_per_row_out" -> m(_.rowsRead.toDouble) / rowsOut) else Nil))
    }
    table.foreach { case (name, kv) =>
      println("[perfbench] span " + name + " " + kv.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    }

    val metrics = Seq(
      ("iteration.wall_ms", med(_.wallMs), "ms"),
      ("iteration.span_coverage", Main.median(iters.map(i => coverage(i._1))), "fraction"),
      ("catalyst.plan_ms", med(_.planMs), "ms"),
      ("driver.driver_ms", med(_.driverMs), "ms"),
      ("driver.result_mb", med(_.resultMb), "MB"),
      ("scheduler.jobs", med(_.jobs.toDouble), "count"),
      ("scheduler.stages", med(_.stages.toDouble), "count"),
      ("executor.tasks", med(_.tasks.toDouble), "count"),
      ("executor.task_ms", med(_.taskMs), "ms"),
      ("executor.core_busy_frac", med(x => x.taskMs / (x.wallMs * a.cores)), "fraction"),
      ("executor.spill_mb", med(_.spillMb), "MB"),
      ("shuffle.shuffle_mb", med(_.shuffleMb), "MB"),
      ("output.output_mb", med(_.outputMb), "MB"),
      ("scan.rows_read", med(_.rowsRead.toDouble), "count"))

    val spanJson = spans.map { s =>
      val k = c(s.id)
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "iteration" -> s.iteration.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_ms" -> Json.num(k.wallMs), "plan_ms" -> Json.num(k.planMs),
        "driver_ms" -> Json.num(k.driverMs), "jobs" -> k.jobs.toString,
        "stages" -> k.stages.toString, "tasks" -> k.tasks.toString,
        "task_ms" -> Json.num(k.taskMs), "shuffle_mb" -> Json.num(k.shuffleMb),
        "result_mb" -> Json.num(k.resultMb), "output_mb" -> Json.num(k.outputMb),
        "spill_mb" -> Json.num(k.spillMb), "rows_read" -> k.rowsRead.toString))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
      "iterations" -> iterations.toString, "timed_wall_s" -> Json.num(timedWallS),
      "metrics" -> Json.obj(metrics.map { case (n, v, _) => n -> Json.num(v) }),
      "calls" -> Json.obj(table.map { case (n, kv) =>
        n -> Json.obj(kv.map { case (k, v) => k -> Json.num(v) }) }),
      "spans" -> Json.arr(spanJson)))
    Files.write(Paths.get(path), doc.getBytes(UTF_8))
    println(s"[perfbench] trace written to $path")
    metrics
  }
}
