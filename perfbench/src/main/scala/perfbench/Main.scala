package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `run.py`, which builds the engine
  * and this package first):
  *
  *   perfbench.Main --workload <batch|serve> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *
  * Set-up builds the session, materializes the seeded inputs (and, for
  * `serve`, builds the indexes), then runs the workload's untimed warm
  * iterations; `setup_s` is all of it. The timed phase then runs
  * closed-loop iterations until the next one, at the median length so
  * far, would overrun `--seconds`, with at least `minIterations` and at
  * most the workload's `maxIterations`. The last stdout line is the
  * result object. */
object Main {

  /** Timed iterations at least, however long they take. */
  val minIterations = 5

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.get("cores").map(_.toInt).getOrElse(4))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      // batch's generated classes come near Spark's default cache of 100
      // entries; runs that overflowed it recompiled ~100 classes every
      // iteration and ran up to 2x slower
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val inputDir = s"${a.work}/inputs"
    Files.createDirectories(Paths.get(inputDir))
    // the engine's stream checkpoints go under the run's directory too
    sys.props("graft.scratch") = s"${a.work}/scratch"

    // set-up: the session, the seeded inputs, then untimed warm
    // iterations; traced runs trace it too (the serve index builds)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val client = new Client(spark, trace)
    client.iteration = Trace.setupIteration
    val prepared = wl.prepare(client, a.seed, inputDir)
    val prepareS = (System.nanoTime() - t0) / 1e9
    val untimed = ArrayBuffer(client.log)
    client.iteration = Trace.warmIteration
    val warmS = ArrayBuffer.empty[Double]
    for (_ <- 1 to wl.warmIterations) {
      client.log = new IterationLog
      prepared.iterate(client)
      warmS += client.log.wallNs / 1e9
      untimed += client.log
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // timed phase: closed loop, one client
    val logs = ArrayBuffer.empty[IterationLog]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def cpuMs = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1000000
    val (gc0, jit0, cpu0) = (gcMs, jitMs, cpuMs)
    val start = System.nanoTime()
    val budgetNs = a.seconds * 1000000000L
    def elapsed = System.nanoTime() - start
    val fullNs = ArrayBuffer.empty[Double] // with the untimed checks
    val iterJitMs = ArrayBuffer.empty[Long]
    while (logs.size < wl.maxIterations &&
        (logs.size < minIterations || elapsed + median(fullNs.toSeq) <= budgetNs)) {
      client.iteration = logs.size
      client.log = new IterationLog
      val i0 = System.nanoTime()
      val j0 = jitMs
      prepared.iterate(client)
      fullNs += (System.nanoTime() - i0).toDouble
      iterJitMs += jitMs - j0
      logs += client.log
    }
    val timedWallS = (System.nanoTime() - start) / 1e9
    // where the timed phase's CPU went: a JIT still compiling shows here
    val jvm = s"timed_cpu_ms=${cpuMs - cpu0} timed_jit_ms=${jitMs - jit0} timed_gc_ms=${gcMs - gc0}"
    val heapMb = {
      // collect, let Spark's ContextCleaner drop blocks of unreachable
      // broadcasts and shuffles, collect again
      System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(100); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    // the workload's once-per-run check of the final state, untimed
    client.iteration = Trace.finalIteration
    client.log = new IterationLog
    prepared.finalCheck(client)
    untimed += client.log
    // every operation counts, set-up, warm-up and the final check too
    val all = untimed ++ logs
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.problems).distinct.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val correct = failed == 0

    val iterS = logs.map(_.wallNs / 1e9)
    println(f"[perfbench] workload=${a.workload} seed=${a.seed} cores=${a.cores} " +
      f"input_rows=${prepared.inputRows} input_mb=${prepared.inputMb}%.2f " +
      f"iterations=${logs.size} timed_s=$timedWallS%.1f " +
      f"iteration_s=${iterS.map(x => f"$x%.2f").mkString(",")} " +
      f"iteration_jit_ms=${iterJitMs.mkString(",")} " +
      f"session_s=$sessionS%.2f prepare_s=$prepareS%.2f " +
      f"warm_s=${warmS.map(x => f"$x%.2f").mkString(",")} setup_s=$setupS%.2f $jvm")
    untimed.head.calls.foreach { case (n, ns) => println(f"[perfbench] setup call $n ms=${ns / 1e6}%.1f") }
    logs.flatMap(_.calls).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, cs) =>
      val ms = cs.map(_._2 / 1e6).toSeq
      println(f"[perfbench] call $n n=${ms.size} p50_ms=${median(ms)}%.1f")
    }

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("job_s", median(iterS.toSeq), "s"),
        ("driver_heap_mb", heapMb, "MB"))
      case Some(t) =>
        t.finish()
        Layers.report(t, logs.size, timedWallS, a, s"${a.work}/trace-${a.workload}-${a.seed}.json")
    }
    spark.stop()
    println(Json.result(correct, attempted, failed, metrics))
  }
}
