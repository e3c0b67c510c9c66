package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.Engine

trait Workload {
  /** Input preparation that every set-up round repeats in its fresh
    * session (stream log generation and publish). */
  def prepare(ctx: Ctx): Unit
  /** One run of every op, in the session the passes then use, to warm JIT,
    * codegen and the loaders (Main calls it WarmRuns times). Returns each
    * op's run seconds. */
  def warmUp(ctx: Ctx): Seq[(String, Double)]
  /** Number of independent ops in a pass; the seed shuffles their order. */
  def keys: Seq[String]
  def pass(ctx: Ctx, order: Seq[Int], passSpan: Int): PassResult
  /** Per-layer metrics of the other workload's layers, which this one does
    * not exercise; they are reported as an explicit 0. */
  def unexercised: Seq[String]
}

/** What one pass measured: per-op latency and outcome, and its per-layer
  * counters. */
final class PassResult {
  val latencies = mutable.ArrayBuffer.empty[(String, Double)] // seconds
  var attempted = 0
  var failed = 0
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Finer latency samples (stream triggers) for the geomean, in ms. When
    * empty, the geomean is over each op's median over the passes. */
  val samplesMs = mutable.ArrayBuffer.empty[Double]

  def op(name: String, seconds: Double, ok: Boolean): Unit = {
    latencies += name -> seconds
    attempted += 1
    if (!ok) failed += 1
  }
}

object Layers {
  def addScheduler(m: mutable.Map[String, Double], jobs: Int,
                   stages: Seq[SparkRecorder#StageRec], delayMs: Double): Unit = {
    m("spark.jobs") += jobs
    m("spark.stages") += stages.size
    m("spark.tasks") += stages.map(_.tasks).sum
    m("spark.sched_delay_s") += delayMs / 1000
    m("spark.task_run_s") += stages.map(_.runMs).sum / 1000
    m("spark.task_cpu_s") += stages.map(_.cpuMs).sum / 1000
    m("spark.gc_s") += stages.map(_.gcMs).sum / 1000
    m("spark.deser_s") += stages.map(_.deserMs).sum / 1000
    m("spark.shuffle_write_mb") += stages.map(_.shWriteB).sum / 1048576
    m("spark.shuffle_read_mb") += stages.map(_.shReadB).sum / 1048576
    m("spark.spill_mb") += stages.map(_.spillB).sum / 1048576
  }
}

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val cores: Int, val dataDir: String,
                val workDir: String,
                val tracer: Tracer, val recorder: SparkRecorder,
                refs: Map[String, String], makeRefs: Option[mutable.Map[String, String]]) {
  val probes = mutable.ArrayBuffer.empty[Double]

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Bench's constant-work probe: pure CPU and scheduler work, no I/O, so
    * its drift measures the box rather than the program. */
  def probe(parent: Int): Double = {
    val span = tracer.open(parent, "probe", "probe")
    val t0 = System.nanoTime()
    SparkRecorder.withSpan(spark.sparkContext, span)(
      spark.range(50000000L).selectExpr("sum(id)").collect())
    tracer.close(span)
    (System.nanoTime() - t0) / 1e9
  }

  def checkDigest(key: String, d: Digest.Value): Boolean = makeRefs match {
    case Some(out) => out(key) = d.render; true
    case None =>
      val ok = refs.get(key).contains(d.render)
      if (!ok) log(s"digest mismatch on $key: got ${d.render}, expected ${refs.getOrElse(key, "<none>")}")
      ok
  }
}

object Main {
  val SetupRounds = 3
  /** Warm-up runs of every op before the passes; after one, the first
    * timed passes still ran up to 2x slower than the later ones. */
  val WarmRuns = 2
  /** Fewest passes a run measures; per-op medians over them absorb one slow
    * pass. */
  val MinPasses = 3
  /** A pass of either workload takes about 5-7 s on a 4-core box. */
  val NominalPassS = 6.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dataDir = opts("data")
    val workDir = opts("work")
    val cores = Runtime.getRuntime.availableProcessors
    val makeRefs = opts.get("make-refs")
    val refs: Map[String, String] = opts.get("refs").filter(p => Files.exists(Paths.get(p))).map { p =>
      scala.io.Source.fromFile(p).getLines().filter(_.contains("\t"))
        .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    }.getOrElse(Map.empty)

    val workload: Workload = workloadName match {
      case "batch" => BatchWorkload.batch
      case "kse_stream" => new StreamWorkload(dataDir, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(traced)
    val refOut = makeRefs.map(_ => mutable.LinkedHashMap.empty[String, String])

    // set-up: several rounds, each a fresh session plus the workload's input
    // preparation, of which the median counts (the cold JVM start lands in
    // the first round and does not decide it), plus WarmRuns warm-up runs of
    // every op in the last session, where each op's first-run cost shows
    var spark: SparkSession = null
    var ctx: Ctx = null
    val recorder = new SparkRecorder(tracer)
    val runSpan = tracer.open(0, "workload", workloadName)
    val roundS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    (1 to SetupRounds).foreach { round =>
      if (spark != null) spark.stop()
      val span = tracer.open(runSpan, "setup", s"setup $round")
      val t0 = System.nanoTime()
      spark = Engine.session(cores, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      ctx = new Ctx(spark, cores, dataDir, workDir, tracer, recorder, refs, refOut)
      workload.prepare(ctx)
      roundS += (System.nanoTime() - t0) / 1e9
      sessionS += (t1 - t0) / 1e9
      tracer.close(span)
    }
    val warmSpan = tracer.open(runSpan, "setup", "warm-up")
    val warm = (1 to WarmRuns).flatMap(_ => workload.warmUp(ctx))
    tracer.close(warmSpan)
    warm.foreach { case (op, s) => ctx.log(f"warm $op $s%.3f s") }
    val setupS = median(roundS.toSeq) + warm.map(_._2).sum
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val runProbes = (1 to 3).map(_ => ctx.probe(runSpan))
    ctx.log(f"probe median ${median(runProbes)}%.4f s (cores=$cores)")

    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    // closed loop, for a fixed number of passes: --seconds over the nominal
    // pass time, at least MinPasses. The count does not depend on measured
    // times, because passes keep speeding up a little as the JIT warms: a
    // count taken from the first pass varied between runs and moved the
    // medians with it, and would give a faster program more, faster passes
    // than its parent. A reference-making run needs one pass.
    val target =
      if (makeRefs.nonEmpty) 1 else math.max(MinPasses, math.round(seconds / NominalPassS).toInt)
    (1 to target).foreach { i =>
      val order = rng.shuffle(workload.keys.indices.toList)
      val span = tracer.open(runSpan, "pass", s"pass $i")
      passes += workload.pass(ctx, order, span)
      tracer.close(span)
    }
    ctx.log(s"passes: ${passes.size}")

    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    // each op's median over the passes, so one slow pass of one key (GC, a
    // busy neighbour) does not move the figure; for stream triggers, the
    // median over the passes of each pass's geomean, for the same reason
    val opMedMs = passes.flatMap(_.latencies).groupBy(_._1).values
      .map(xs => median(xs.map(_._2 * 1000).toSeq)).toSeq
    def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
    val samples = passes.flatMap(_.samplesMs).toSeq
    val opGeomeanMs =
      if (samples.nonEmpty) median(passes.map(p => geomean(p.samplesMs.toSeq)).toSeq)
      else geomean(opMedMs)
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> opMedMs.sum / 1000,
      "op_geomean_ms" -> opGeomeanMs)

    val layerNames = passes.flatMap(_.layers.keys).distinct
    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers("engine.session_s") = median(sessionS.toSeq)
    layers("engine.probe_s") = median((runProbes ++ ctx.probes).toSeq)
    layerNames.foreach(n => layers(n) = median(passes.map(_.layers.getOrElse(n, 0.0)).toSeq))
    workload.unexercised.foreach { n =>
      require(!layers.contains(n), s"$n is recorded by a workload that lists it as unexercised")
      layers(n) = 0.0
    }
    if (traced) {
      layers ++= Kernels.measure(spark, dataDir, tracer, runSpan)
      layers("jvm.peak_rss_mb") = peakRssMb()
    }
    tracer.close(runSpan)

    makeRefs.foreach { p =>
      Files.writeString(Paths.get(p), refOut.get.map { case (k, v) => s"$k\t$v\n" }.mkString)
    }
    val perOp = passes.zipWithIndex.flatMap { case (p, i) =>
      p.latencies.map { case (k, s) => Json.obj(Seq("pass" -> (i + 1).toString,
        "op" -> Json.str(k), "s" -> f"$s%.6f")) }
    }
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"), "cores" -> cores.toString,
      "seconds" -> Json.num(seconds), "passes" -> passes.size.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "probe_median_s" -> Json.num(median(runProbes ++ ctx.probes)),
      "setup_rounds_s" -> Json.arr(roundS.map(Json.num)),
      "warm_up_s" -> Json.obj(warm.groupBy(_._1).map { case (op, xs) =>
        op -> Json.arr(xs.map(x => Json.num(x._2))) }),
      "op_samples" -> (if (samples.nonEmpty) samples.size else opMedMs.size).toString,
      "end_to_end" -> Json.obj(e2e.map { case (n, v) => n -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.map { case (n, v) => n -> Json.num(v) }),
      "ops" -> Json.arr(perOp),
      "spans" -> (if (traced) tracer.toJson else "[]")))
    Files.writeString(Paths.get(opts("artifact")), artifact)
    spark.stop()
  }
}
