package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM: one workload, one run. Started by run.py, which
  * owns the workload list, metric names and units; this side measures and
  * writes one flat JSON record to `--out`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --work <dir> --out <file>
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** HostPhaseProbe `mem` reading (units/s), captured from its JSON line. */
  private def memProbe(threads: Int): Double = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      graft.HostPhaseProbe.main(Array("mem", threads.toString, (threads * 60).toString))
    }
    "\"units_per_sec\":([0-9.]+)".r.findFirstMatchIn(buf.toString)
      .map(_.group(1).toDouble).getOrElse(0.0)
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // twice as many shuffle partitions as cores, as ScaleBench runs the
      // at-scale ER config, and kept at that count: AQE would coalesce the
      // small shuffles back to about one partition per core by bytes, and
      // then one slowed core stalls a whole stage (README, "Steadiness")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoint").toString)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val heap = new OldGenMonitor
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probeBefore = memProbe(cores)
    val (spark, sessionS) = Workloads.time(session(cores, work))
    val w: Workload = name match {
      case "er_batch" => new ErBatch(spark, seed)
      case "cc_graph" => new CcGraph(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: input generation is repeated and its median taken; the
    // warm-up (JIT, codegen, Spark start-up paths) runs once
    val genS = (1 to 3).map(_ => Workloads.time(w.generate())._2)
    val (_, warmS) = Workloads.time(w.warmUp())
    val setupS = startupS + sessionS + median(genS) + warmS
    // untimed: the measured passes start from a collected heap
    heap.collect()

    val walls = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[PassOut]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    if (!trace) {
      // measured window: whole passes until `seconds` of pass time, and at
      // least the workload's minimum; the heap readings after each pass
      // and the output checks are untimed
      val checks = ArrayBuffer.empty[() => PassOut]
      val peakMb = ArrayBuffer.empty[Double]
      var retainedMb = 0.0
      while (walls.size < w.minPasses || walls.sum < seconds) {
        heap.reset()
        val (check, s) = Workloads.time(w.pass())
        checks += check; walls += s
        // the retained heap is read after the first pass: the checks hold
        // every pass's outputs, so later readings grow with the number of
        // passes
        if (walls.size == 1) retainedMb = heap.retainedMb() else heap.collect()
        peakMb += heap.peakMb
      }
      report += "check_s" -> Workloads.time(checks.foreach(c => outs += c()))._2
      // the old-gen peak after any collection reads G1's tenuring more
      // than the driver's heap (README), so it is reported but is not a
      // metric
      report += "heap_peak_after_gc_mb" -> peakMb.toSeq
      metrics ++= Seq("wall_s" -> median(walls.toSeq), "setup_s" -> setupS,
        "driver_heap_retained_mb" -> retainedMb)
    } else {
      // the same work with spans and counters between two untraced passes;
      // against their mean, the pass position (JIT still warming) cancels
      // out of the tracing overhead
      def untraced(): Double = {
        val (check, s) = Workloads.time(w.pass())
        outs += check()
        walls += s
        s
      }
      val before = untraced()
      val tr = new Tracer(spark.sparkContext, s"$name-$seed")
      val (out, layers) = try w.tracedPass(tr) finally tr.close()
      outs += out
      val untracedS = (before + untraced()) / 2
      // the "pass" span covers the whole traced pass, start to end, and
      // the layer spans nest in it; the checks' work comes after it
      val whole = tr.named("pass").head
      val c = whole.counts
      val passS = whole.wallS
      metrics ++= layers
      metrics ++= Seq(
        "spark.jobs" -> c.jobs.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.task_s" -> c.taskMs / 1e3,
        "spark.gc_s" -> c.gcMs / 1e3,
        "spark.cpu_util" -> c.taskMs / 1e3 / (passS * cores),
        "spark.job_gap_s" -> (passS - c.busyNs / 1e9),
        "spark.ms_per_job" -> passS * 1e3 / math.max(1L, c.jobs),
        "spark.shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "spark.shuffle_read_mb" -> c.shuffleRead / 1048576.0,
        "trace.pass_wall_s" -> passS,
        "trace.layer_sum_s" -> tr.all.filter(_.parent == whole.id).map(_.wallS).sum,
        "trace.untraced_wall_s" -> untracedS,
        "trace.overhead_s" -> (passS - untracedS))
      val traceFile = work.getParent.resolve(s"trace-$name-$seed.jsonl")
      Files.write(traceFile, (tr.toJsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
      report += "trace_file" -> traceFile.toString
      report += "spans" -> tr.all.map(s => s"${s.name}=${"%.3f".format(s.wallS)}s/self ${"%.3f".format(tr.selfS(s))}s").mkString(" ")
    }
    val probeAfter = memProbe(cores)

    // a pass fails on its own checks or when its outputs differ from the
    // first pass of the run
    val first = outs.head.values
    val failures = outs.flatMap { o =>
      o.failures ++ o.values.collect {
        case (k, v) if first.get(k).exists(_ != v) => s"$k differs between passes: ${first(k)} vs $v"
      }
    }
    val failed = outs.count(o => o.failures.nonEmpty ||
      o.values.exists { case (k, v) => first.get(k).exists(_ != v) })

    report ++= Seq("passes" -> walls.size, "pass_walls_s" -> walls.toSeq,
      "startup_s" -> startupS, "session_s" -> sessionS,
      "generate_s" -> genS, "warmup_s" -> warmS,
      "probe_mem_before" -> probeBefore, "probe_mem_after" -> probeAfter)
    report ++= w.extras(outs.head)
    val result = Json.obj(Seq(
      "attempted" -> outs.size,
      "failed" -> failed,
      "failures" -> failures.toSeq.take(20),
      "checks" -> outs.map(_.values).reduce(_ ++ _),
      "metrics" -> metrics.toMap,
      "report" -> report.toMap))
    Files.write(Paths.get(opt("out")), result.getBytes("UTF-8"))
    spark.stop()
  }
}
