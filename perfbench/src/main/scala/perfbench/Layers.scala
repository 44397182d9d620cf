package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced half of a run, each a total per
  * pass (averaged over the traced passes) unless named as a ratio.
  */
object Layers {
  val Modules = Seq("Relational", "Pipeline", "Asof", "Skew", "Dedup",
    "Similarity", "TextAnalysis", "Corpus", "Multimodal", "StreamOps")
  val StreamParts = Seq("addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "getBatch")

  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        try Files.size(p) catch { case _: java.io.IOException => 0L }
      }.sum
      finally w.close()
    }

  def apply(passes: Seq[(Double, Seq[Main.Sample])],
      untraced: Seq[(Double, Seq[Main.Sample])], tracer: Tracer,
      triggers: Seq[Trigger], spans: collection.mutable.ArrayBuffer[Span],
      bytesWritten: Long, inputBytes: Long): Seq[(String, Double)] = {
    val n = passes.size.toDouble
    val samples = passes.flatMap(_._2)
    val jobs = tracer.jobs.asScala.toSeq
    val stages = tracer.stages.asScala.toSeq
    val plans = tracer.plans.asScala.toSeq
    def count(cls: String*) = cls.map(c => tracer.census.getOrDefault(c, 0L)).sum.toDouble
    def opTime(f: Main.Sample => Boolean) = samples.filter(f).map(_.s).sum / n
    def phaseMs(p: String) = plans.filter(_.name == p).map(_.us).sum / 1e3 / n

    // listener spans join the op span whose interval holds their start
    val opSpans = spans.filter(_.layer == "op").sortBy(_.startUs).toIndexedSeq
    def owner(atUs: Long): Int = {
      val i = opSpans.lastIndexWhere(_.startUs <= atUs)
      if (i >= 0 && atUs < opSpans(i).endUs) opSpans(i).op else -1
    }
    spans ++= plans.map(p => p.copy(op = owner(p.startUs)))
    spans ++= jobs.map(j => Span(owner(j.startUs), "job", s"job-${j.id}", j.startUs, j.endUs))
    spans ++= triggers.map { t =>
      val d = t.durations.getOrElse("triggerExecution", 0L) * 1000L
      Span(owner(t.atUs), "trigger", s"${t.runId}#${t.batchId}", t.atUs, t.atUs + d)
    }

    val exchanges = count("ShuffleExchangeExec", "BroadcastExchangeExec")
    val reused = count("ReusedExchangeExec")
    val streamBuildS = opTime(_.op.module == "StreamOps")
    val triggerMs = triggers.map(_.durations.getOrElse("triggerExecution", 0L).toDouble).sorted
    val plainPass = Stats.median(untraced.map(_._1))

    Seq(
      "build.s" -> samples.map(_.buildS).sum / n,
      "build.jobs" -> jobs.count(_.build) / n,
      "plan.s" -> plans.map(_.us).sum / 1e6 / n,
      "plan.analysis_ms" -> phaseMs("analysis"),
      "plan.optimization_ms" -> phaseMs("optimization"),
      "plan.planning_ms" -> phaseMs("planning"),
      "plan.exchanges" -> exchanges / n,
      "plan.reused_exchanges" -> reused / n,
      "plan.reuse_ratio" -> (if (exchanges + reused == 0) 0.0 else reused / (exchanges + reused)),
      "plan.smj" -> count("SortMergeJoinExec") / n,
      "plan.shj" -> count("ShuffledHashJoinExec") / n,
      "plan.bhj" -> count("BroadcastHashJoinExec") / n,
      "plan.bnlj" -> count("BroadcastNestedLoopJoinExec") / n,
      "exec.s" -> jobs.map(j => j.endUs - j.startUs).sum / 1e6 / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> stages.map(_.tasks).sum / n,
      "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3 / n,
      "exec.task_skew" -> (1.0 +: stages.filter(_.tasks > 1).map(_.skew)).max,
      "scan.bytes" -> stages.map(_.inBytes).sum / n,
      "scan.rows" -> stages.map(_.inRows).sum / n,
      "shuffle.write_bytes" -> stages.map(_.shWrite).sum / n,
      "shuffle.read_bytes" -> stages.map(_.shRead).sum / n,
      "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3 / n,
      "spill.mem_bytes" -> stages.map(_.spillMem).sum / n,
      "spill.disk_bytes" -> stages.map(_.spillDisk).sum / n) ++
    Modules.map(m => s"$m.s" -> opTime(_.op.module == m)) ++
    Seq(
      "sources.write_s" -> opTime(_.op.io == "write"),
      "sources.read_s" -> opTime(_.op.io == "read"),
      "sources.bytes_written" -> bytesWritten / n,
      "sources.write_amp" -> {
        val writes = samples.count(_.op.io == "write")
        if (writes == 0) 0.0 else bytesWritten.toDouble / (inputBytes * writes)
      },
      "stream.triggers" -> triggers.size / n,
      "stream.trigger_p50_ms" -> (if (triggerMs.isEmpty) 0.0 else Stats.quantile(triggerMs, 0.5)),
      "stream.trigger_p90_ms" -> (if (triggerMs.isEmpty) 0.0 else Stats.quantile(triggerMs, 0.9)),
      "stream.nonempty_trigger_ratio" ->
        (if (triggers.isEmpty) 0.0 else triggers.count(_.inputRows > 0).toDouble / triggers.size)) ++
    StreamParts.map(p => s"stream.${p}_ms" -> triggers.map(_.durations.getOrElse(p, 0L)).sum / n) ++
    Seq(
      "stream.state_commit_ms" -> triggers.map(_.stateCommitMs).sum / n,
      "stream.state_rows" -> triggers.groupBy(_.runId).values
        .map(_.maxBy(_.batchId).stateRows).sum / n,
      "stream.harness_s" -> (streamBuildS - triggerMs.sum / 1e3 / n),
      "trace.overhead" -> Stats.median(passes.map(_._1)) / plainPass)
  }
}
