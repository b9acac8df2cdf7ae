package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import scala.io.Source

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload and writes its raw record as JSON.
  *
  * Usage: Main --workload W --input DIR --work DIR --seconds S --trace 0|1
  *             --cores N --out FILE
  *
  * Set-up builds the session three times (the median counts) and runs the
  * untimed warm pass. The timed phase repeats the workload's units until
  * `seconds` have passed. A traced run instead times a fixed number of
  * units, each twice from the same state (untraced, then traced), so its
  * counters repeat exactly and the pairs give the tracing overhead.
  */
object Main {
  val SessionBuilds = 3

  final case class Phase(seconds: Double, rows: Long, units: Int, failedUnits: Int,
                         samples: Seq[Double])

  object Phase {
    def sum(ps: Seq[Phase]): Phase = Phase(ps.map(_.seconds).sum, ps.map(_.rows).sum,
      ps.map(_.units).sum, ps.map(_.failedUnits).sum, ps.flatMap(_.samples))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val input = a("input")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val manifest = json.readValue(new File(s"$input/manifest.json"), classOf[Map[String, Any]])

    def build(): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val s = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      s.sql("SELECT 1").collect()
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val builds = (1 to SessionBuilds).map { i =>
      val (s, t) = build()
      if (i < SessionBuilds) s.stop()
      (s, t)
    }
    val spark = builds.last._1
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = median(builds.map(_._2))

    val wl = Workload(workload, input, work, manifest)
    val ctx = new Ctx(spark, new Tracer(spark, false), work)

    val w0 = System.nanoTime()
    wl.warm(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9

    /** Runs units from index `first` until `seconds` have passed, or `units` of them. */
    def phase(c: Ctx, units: Option[Int], first: Int = 0): Phase = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val runs = Iterator.from(0)
        .takeWhile(i => wl.hasNext && units.fold(i == 0 || elapsed < seconds)(i < _))
        .map(i => wl.unit(c, first + i)).toVector
      Phase(elapsed, runs.map(_.rows).sum, runs.size, runs.count(!_.ok), runs.flatMap(_.samples))
    }

    val (timed, tracedPhase, tracedCtx) =
      if (!traced) (phase(ctx, None), None, None)
      else {
        // each unit runs twice from the same state, untraced and traced,
        // alternating which goes first, so both sides see the same inputs
        // and the same warm-up
        val tctx = new Ctx(spark, new Tracer(spark, true), work)
        val pairs = (0 until wl.traceUnits).map { i =>
          val order = if (i % 2 == 0) Seq(ctx, tctx) else Seq(tctx, ctx)
          wl.snapshot()
          val a = phase(order(0), Some(1), i)
          wl.restore()
          val b = phase(order(1), Some(1), i)
          if (i % 2 == 0) (a, b) else (b, a)
        }
        tctx.tracer.close()
        (Phase.sum(pairs.map(_._1)), Some(Phase.sum(pairs.map(_._2))), Some(tctx))
      }

    // untimed checks of the final state run outside any timed phase
    wl.finish(ctx)
    val all = Seq(ctx) ++ tracedCtx
    val rss = vmHwmMb()
    val heapPeaks = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap
    spark.stop()

    val record = Map[String, Any](
      "workload" -> workload,
      "traced" -> traced,
      "setup" -> Map("session_builds_s" -> builds.map(_._2), "session_s" -> sessionS,
        "warm_s" -> warmS, "setup_s" -> (sessionS + warmS)),
      "timed" -> phaseJson(timed),
      "traced_phase" -> tracedPhase.map(phaseJson).orNull,
      "peak_rss_mb" -> rss,
      "heap_pool_peak_mb" -> heapPeaks,
      "attempted" -> all.map(_.attempted).sum,
      "failures" -> all.flatMap(_.failures).map { case (s, e) => Map("step" -> s, "error" -> e) },
      "step_seconds" -> all.flatMap(_.stepSeconds).groupBy(_._1)
        .map { case (k, v) => k -> v.flatMap(_._2) },
      "checks" -> all.flatMap(_.checks).groupBy(ch => (ch.step, ch.attrs.get("path"))).values.map(_.head)
        .map(ch => Map("step" -> ch.step, "kind" -> ch.kind) ++ ch.attrs),
      "layers" -> tracedCtx.map(t => layerJson(t.tracer, sessionS, cores,
        heapPeaks.collect { case (n, mb) if n.contains("Old Gen") => mb }.sum)).orNull,
      "versions" -> Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "local" -> s"local[$cores]", "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    json.writeValue(new File(a("out")), record)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def phaseJson(p: Phase): Map[String, Any] = Map("seconds" -> p.seconds,
    "rows" -> p.rows, "units" -> p.units, "failed_units" -> p.failedUnits, "samples" -> p.samples)

  private def layerJson(tracer: Tracer, sessionS: Double, cores: Int,
                        oldGenPeakMb: Double): Map[String, Any] = {
    val t = tracer.totals
    val modules = Seq("session", "tables", "sources", "Enrich", "Dedup", "TextAnalysis",
      "Curation", "Similarity", "Cluster", "Graph")
    val perModule = modules.flatMap { m =>
      val x = t.getOrElse(m, new ModuleTotals)
      val wall = if (m == "session") sessionS else x.wallNs / 1e9
      val cpu = x.cpuNs / 1e9
      Seq(s"$m.wall_s" -> wall, s"$m.plan_s" -> x.planNs / 1e9, s"$m.driver_s" -> x.driverNs / 1e9,
        s"$m.jobs" -> x.jobs, s"$m.tasks" -> x.tasks, s"$m.exec_cpu_s" -> cpu,
        s"$m.core_util" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
        s"$m.shuffle_write_mb" -> x.shuffleWriteBytes / 1048576.0,
        s"$m.spill_mb" -> x.spillBytes / 1048576.0, s"$m.failed_tasks" -> x.failedTasks)
    }
    (perModule ++ Seq(
      "functions.native_frac" -> (if (tracer.steps > 0) tracer.nativeSteps.toDouble / tracer.steps else 0.0),
      "Par.rr_exchanges" -> tracer.rrExchanges,
      "plans.topk_rewrites" -> tracer.topkRewrites,
      "storage.persisted_mb" -> tracer.persistedPeakBytes / 1048576.0,
      "jvm.old_gen_peak_mb" -> oldGenPeakMb)).toMap
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
