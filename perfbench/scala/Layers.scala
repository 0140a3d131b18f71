package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics and spans of the traced pass. */
object Layers {
  import Harness.{OpRun, PassResult}

  /** op → call/action/gather → job → stage, with epoch-ms bounds. */
  def spans(t: PassResult): Seq[Span] = t.runs.zipWithIndex.flatMap {
    case (r, k) =>
      val opId = s"op$k"
      val op = Span(opId, "", "op", r.op.id, r.p.startMs,
        r.p.startMs + math.round(r.seconds * 1000))
      val phases = r.p.marks.zipWithIndex.map { case ((kind, a, b), i) =>
        Span(s"$opId.$kind$i", opId, kind, s"${r.op.id}.$kind",
          r.p.epochMs(a), r.p.epochMs(b))
      }.toSeq
      val obs = r.observed.toSeq
      val jobs = obs.flatMap(_.jobs).map { j =>
        val parent = phases.find(ph => j.startMs >= ph.startMs &&
          j.startMs <= ph.endMs).map(_.id).getOrElse(opId)
        (j, Span(s"$opId.j${j.id}", parent, "job", j.callSite, j.startMs,
          if (j.endMs < 0) j.startMs else j.endMs))
      }
      val stages = obs.flatMap(_.stages).filter(_.submitMs >= 0).map { s =>
        val parent = jobs.find(_._1.stageIds.contains(s.id)).map(_._2.id)
          .getOrElse(opId)
        Span(s"$opId.s${s.id}", parent, "stage", s.name, s.submitMs,
          math.max(s.submitMs, s.endMs))
      }
      op +: (phases ++ jobs.map(_._2) ++ stages)
  }

  /** Slack on the task-time check for the millisecond rounding of task and
    * job times.
    */
  private val CapacitySlack = 1.02

  def metrics(t: PassResult, untraced: PassResult, setup: Map[String, Any],
      cores: Int, spans: Seq[Span]): Map[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    val obs = t.runs.flatMap(_.observed)
    val stages = obs.flatMap(_.stages)
    val jobs = obs.flatMap(_.jobs)
    def sumS(f: Tracer#Stage => Long, scale: Double = 1e3) =
      stages.map(f).sum / scale
    val taskS = sumS(_.taskMs)
    val wall = t.wallS

    // ops, split by owning package and by phase
    t.runs.groupBy(_.op.family).toSeq.sortBy(_._1).foreach { case (fam, rs) =>
      m(s"$fam.op_s") = rs.map(_.seconds).sum
      Seq("call", "action", "gather").foreach(k =>
        m(s"$fam.$k" + "_s") = rs.map(_.p.seconds(k)).sum)
    }
    m("op.call_s") = t.runs.map(_.p.seconds("call")).sum
    m("op.action_s") = t.runs.map(_.p.seconds("action")).sum
    m("op.gather_s") = t.runs.map(_.p.seconds("gather")).sum
    m("op.count") = t.runs.size
    m("op.failed") = t.runs.count(_.check.error.nonEmpty)

    // tasks per op (per call: mean over passes) and the handler shuffle
    def perOp(r: OpRun) = r.observed.toSeq.flatMap(_.stages)
    m("op.tasks") = stages.map(_.tasks).sum
    val byOp = t.runs.groupBy(_.op.id).toSeq.sortBy(_._1)
    m("op.tasks_per_call") = byOp.map { case (id, rs) =>
      id -> rs.map(r => perOp(r).map(_.tasks).sum).sum / rs.size
    }.toMap
    m("op.widest_stage_tasks") = byOp.map { case (id, rs) =>
      id -> rs.flatMap(r => perOp(r).map(_.tasks)).maxOption.getOrElse(0)
    }.toMap
    val hRuns = t.runs.filter(_.op.family == "handler")
    m("handler.tasks") = hRuns.flatMap(perOp).map(_.tasks).sum
    m("handler.shuffle_write_bytes") = hRuns.flatMap(perOp).map(_.shuffleWrite).sum
    m("handler.batched_default_items_per_s") =
      hRuns.find(_.op.id == "batchedMap_default")
        .fold(0.0)(r => r.op.items / r.seconds)

    // Spark substrate
    m("spark.jobs") = jobs.size
    m("spark.plan_s") = obs.map(_.planMs).sum / 1e3
    m("spark.plans") = obs.map(_.plans).sum
    // per op: its time, and the part of it some job was running
    val opCover = t.runs.map { r =>
      val lo = r.p.startMs
      val hi = lo + math.round(r.seconds * 1000)
      val js = r.observed.toSeq.flatMap(_.jobs).filter(_.endMs >= 0)
        .map(j => (j.startMs, j.endMs))
      (hi - lo, Span.covered(js, lo, hi))
    }
    val jobS = opCover.map(_._2).sum / 1e3
    m("spark.driver_s") = opCover.map(c => c._1 - c._2).sum / 1e3
    m("spark.job_s") = jobS
    m("spark.task_s") = taskS
    m("spark.task_cpu_s") = sumS(_.cpuNs, 1e9)
    m("spark.task_gc_s") = sumS(_.gcMs)
    m("spark.sched_wait_s") = stages.filter(s => s.submitMs >= 0 &&
      s.firstLaunchMs >= 0).map(s => math.max(0L, s.firstLaunchMs - s.submitMs))
      .sum / 1e3
    m("spark.core_util") = taskS / (wall * cores)
    m("spark.input_bytes") = stages.map(_.inputBytes).sum
    m("spark.input_records") = stages.map(_.inputRecords).sum
    m("spark.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum
    m("spark.shuffle_read_bytes") = stages.map(_.shuffleRead).sum
    m("spark.spill_bytes") = stages.map(_.spill).sum
    m("spark.failed_tasks") = stages.map(_.failedTasks).sum
    m("spark.tasks") = stages.map(_.tasks).sum

    // barrier jobs from graft.Checkpoint
    val cpJobs = jobs.filter(_.callSite.contains("Checkpoint.scala"))
    val cpStages = cpJobs.flatMap(_.stageIds).toSet
    m("checkpoint.jobs") = cpJobs.size
    m("checkpoint.task_s") = stages.filter(s => cpStages(s.id)).map(_.taskMs).sum / 1e3

    // the cold set-up
    m("setup.session_s") = setup("session_s")
    m("setup.warmup_s") = setup("warmup_s")
    val builds = setup("builds").asInstanceOf[Map[String, Double]]
    builds.foreach { case (k, s) => m(s"artifacts.$k.build_s") = s }
    m("artifacts.build_s") = builds.values.sum
    m("artifacts.bytes") = setup("artifact_bytes")

    // JVM
    m("jvm.gc_s") = t.gcS
    m("jvm.live_heap_mb") = t.heapPeakMb

    // tracing cost and consistency: tasks run only while their job does,
    // on at most `cores` slots, so task time cannot exceed the time some
    // job was running × cores
    m("trace.overhead") = (t.wallS / t.passes) / (untraced.wallS / untraced.passes)
    m("trace.task_s_per_job_capacity") =
      if (jobS == 0) 0.0 else taskS / (jobS * cores)
    val self = Span.selfMs(spans)
    spans.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      m(s"self.$k" + "_s") = ss.map(s => self(s.id)).sum / 1e3
    }
    // jobs are attributed by draining the bus after each op; the job
    // group, set to the op id, confirms it
    m("trace.jobs_outside_group") = t.runs.map(r =>
      r.observed.toSeq.flatMap(_.jobs).count(_.group != r.op.id)).sum
    m("trace.spans") = spans.size
    m.toMap
  }

  /** Broken reconciliations of a traced run; any one makes it incorrect. */
  def failures(m: Map[String, Any]): Seq[String] = {
    val capacity = m("trace.task_s_per_job_capacity").asInstanceOf[Double]
    val outside = m("trace.jobs_outside_group").asInstanceOf[Int]
    Seq(
      Option.when(capacity > CapacitySlack)(
        f"task time is $capacity%.3f × (job time × cores), more than the slots allow"),
      Option.when(outside > 0)(s"$outside jobs ran outside their op's job group")
    ).flatten
  }
}
