package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload in this JVM and writes a JSON
  * report. `run.py` builds it and reads the report.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --data DIR --work DIR --out FILE --spans FILE
  *   or: --list   (print every query with its family and oracle SQL)
  *
  * Order of a run: one cold set-up (session start + warm-up + artifact
  * builds; `setup_s`, what a process pays once), then the timed passes
  * over the op list (round(S / the workload's pass length), at
  * least one).
  * With --trace 1 every op runs both untraced and traced (see `timed`).
  */
object Harness {

  /** `heapPeakMb`: the largest post-GC heap occupancy while the op ran and
    * right after it, with its results still held.
    */
  final case class OpRun(op: Op, pass: Int, seconds: Double, gcS: Double,
      heapPeakMb: Double, p: Phases, check: Check,
      observed: Option[Tracer#Observed])

  final case class PassResult(runs: Seq[OpRun], wallS: Double, passes: Int,
      gcS: Double, heapPeakMb: Double)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated quantile, as numpy's default. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.indexDir", s"$work/index")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.tune(s)
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (argv.contains("--list")) {
      val oracle = graft.SparkEntry.oracleSql
      println(Json(QueryWorkload.family.toSeq.sorted.map { case (n, f) =>
        Map("name" -> n, "family" -> f, "oracle" -> oracle.get(n))
      }))
      return
    }
    val cores = a("cores").toInt
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val w = Workloads(a("workload"), cores)
    val passes = math.max(1, math.round(seconds / w.passSeconds).toInt)
    val dir = a("data")

    // ---- cold set-up: session + warm-up + artifact builds
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val t1 = System.nanoTime()
    w.warmUp(spark, dir)
    val t2 = System.nanoTime()
    val builds = w.primes.map { case (kind, build) =>
      val b0 = System.nanoTime()
      build(spark, dir)
      kind -> (System.nanoTime() - b0) / 1e9
    }
    val t3 = System.nanoTime()
    val setup = Map("total_s" -> (t3 - t0) / 1e9, "session_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> (t2 - t1) / 1e9, "builds" -> builds.toMap,
      "artifact_bytes" -> dirBytes(new java.io.File(s"$work/index")))

    val sc = spark.sparkContext
    val tracer = new Tracer
    val heap = new HeapWatch
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)

    val ops = w.ops(spark, dir, seed)

    def runOp(op: Op, pass: Int, traced: Boolean, drain: Boolean): OpRun = {
      tracer.enabled = traced
      sc.setJobGroup(op.id, op.id, interruptOnCancel = false)
      heap.reset()
      val gc0 = gcSeconds()
      val p = new Phases
      val deferred =
        try op.body(p)
        catch { case e: Throwable => () => Check(Some("threw " + e.toString.take(500))) }
      val secs = (System.nanoTime() - p.t0) / 1e9
      val gcS = gcSeconds() - gc0
      sc.clearJobGroup()
      val check =
        try deferred()
        catch { case e: Throwable => Check(Some("check threw " + e.toString.take(500))) }
      // a full collection while the op's results are still held (`deferred`
      // keeps them): it samples the live set at the end of every op, even
      // one too short for a collection of its own, and clears the op's
      // garbage, so the next op starts from a collected heap
      System.gc()
      val heapPeak = heap.peakMb()
      java.lang.ref.Reference.reachabilityFence(deferred)
      if (drain) BusDrain(sc)
      tracer.enabled = false
      val observed = if (traced) Some(tracer.take()) else None
      System.err.println(f"[perfbench] pass $pass ${op.id}${if (traced) " traced" else ""} $secs%.3f s" +
        check.error.fold("")(" FAILED " + _))
      OpRun(op, pass, secs, gcS, heapPeak, p, check, observed)
    }

    /** The timed passes. With tracing on, each op runs twice in a row,
      * untraced and traced, and which goes first alternates, so the
      * overhead ratio is not biased by warm-up; the per-layer figures
      * come from the traced runs. A pass's wall time is the sum of its
      * op latencies: answer checks and the full collection after each
      * op are not timed.
      */
    def timed(trace: Boolean): (PassResult, Option[PassResult]) = {
      System.gc()
      BusDrain(sc)
      tracer.take()
      val plain = ArrayBuffer.empty[OpRun]
      val traced = ArrayBuffer.empty[OpRun]
      for (k <- 0 until passes; (op, i) <- ops.zipWithIndex) {
        val order =
          if (!trace) Seq(false)
          else if ((i + k) % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { on =>
          (if (on) traced else plain) += runOp(op, k, on, drain = trace)
        }
      }
      BusDrain(sc)
      def result(runs: Seq[OpRun]) = PassResult(runs, runs.map(_.seconds).sum,
        passes, runs.map(_.gcS).sum,
        runs.map(_.heapPeakMb).max)
      (result(plain.toSeq), if (trace) Some(result(traced.toSeq)) else None)
    }

    val (untraced, tracedPass) = timed(traced)

    val headline = untraced.runs.filter(_.op.headline)
    val lat = headline.map(_.seconds)
    val e2e = Map(
      "setup_s" -> setup("total_s"),
      "wall_s" -> untraced.wallS / untraced.passes,
      "op_p50_s" -> median(lat),
      "op_p90_s" -> quantile(lat, 0.9),
      "items_per_s" -> headline.map(_.op.items).sum / headline.map(_.seconds).sum,
      "driver_live_heap_peak_mb" -> untraced.heapPeakMb)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "inputs" -> w.inputs, "op_order" -> ops.map(_.id), "setup" -> setup,
      "e2e" -> e2e,
      "timed_ops" -> lat.size, "passes" -> untraced.passes,
      // every op run, traced ones too, so every answer gets checked
      "ops" -> (untraced.runs.map((_, false)) ++
        tracedPass.toSeq.flatMap(_.runs).map((_, true))).map { case (r, t) =>
        Map("id" -> r.op.id, "family" -> r.op.family, "pass" -> r.pass,
          "traced" -> t, "s" -> r.seconds, "items" -> r.op.items,
          "headline" -> r.op.headline, "error" -> r.check.error,
          "hash" -> r.check.hash, "rows" -> r.check.rows,
          "heap_peak_mb" -> r.heapPeakMb)
      })
    tracedPass.foreach { t =>
      val spans = Layers.spans(t)
      val layers = Layers.metrics(t, untraced, setup, cores, spans)
      report("layers") = layers
      report("trace_failures") = Layers.failures(layers)
      val out = new java.io.PrintWriter(a("spans"))
      try spans.foreach(s => out.println(Json(Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
      finally out.close()
    }
    val out = new java.io.PrintWriter(a("out"))
    try out.println(Json(report)) finally out.close()
    stop(spark)
  }
}
