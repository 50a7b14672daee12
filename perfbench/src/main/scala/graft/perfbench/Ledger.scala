package graft.perfbench

/** Rolls the tracer's spans and listener counts up into per-layer totals
  * over the traced passes. Layers follow the engine's modules:
  *
  *  - construct: the call that returns a DataFrame (`queries`,
  *    `operators.*`, `model`) or a source fetch, with the jobs it runs
  *    eagerly (schema inference, `localCheckpoint`);
  *  - catalyst: analysis, optimization and planning, from each query's
  *    `QueryPlanningTracker`;
  *  - exec: everything else inside an op — the action and, in `ingest`,
  *    the pipeline's own jobs, including its writes;
  *  - storage: cached blocks an op left behind.
  *
  * Jobs outside any op (the harness's own checks) and in `probe` spans
  * belong to no layer.
  */
object Ledger {

  def layers(t: Tracer, ops: Seq[OpRecord], cores: Int): Seq[(String, Double)] = {
    t.drain()
    val spans = t.spans.toSeq
    val nameOf = spans.map(s => s.id -> s.name).toMap
    def total(names: String*): Double =
      spans.filter(s => names.contains(s.name)).map(s => (s.endNs - s.startNs) / 1e6).sum
    val counts = t.synchronized(t.counts.toSeq.map { case (id, c) => nameOf.getOrElse(id, "") -> c })
    def sum(layer: Set[String])(f: Counts => Long): Double =
      counts.collect { case (n, c) if layer(n) => f(c) }.sum.toDouble
    val construct = sum(Set("construct", "fetch")) _
    val exec = sum(Set("op", "execute")) _

    val opMs = total("op")
    val constructMs = total("construct", "fetch")
    val execMs = opMs - constructMs - total("probe")
    val taskCpuMs = exec(_.taskCpuNs) / 1e6
    val nOps = spans.count(s => s.name == "op" && s.parent == -1)
    Seq(
      "ops" -> nOps.toDouble,
      "construct.ms" -> constructMs,
      "construct.jobs" -> construct(_.jobs),
      "catalyst.analysis_ms" -> total("analysis"),
      "catalyst.optimization_ms" -> total("optimization"),
      "catalyst.planning_ms" -> total("planning"),
      "exec.ms" -> execMs,
      "exec.jobs" -> exec(_.jobs),
      "exec.stages" -> exec(_.stages),
      "exec.tasks" -> exec(_.tasks),
      "exec.single_task_stages" -> exec(_.singleTaskStages),
      "exec.task_cpu_ms" -> taskCpuMs,
      "exec.occupancy" -> (if (execMs > 0) taskCpuMs / (execMs * cores) else 0.0),
      "exec.shuffle_write_bytes" -> exec(_.shuffleWriteBytes),
      "exec.shuffle_read_bytes" -> exec(_.shuffleReadBytes),
      "exec.spill_bytes" -> exec(_.spillBytes),
      "exec.gc_ms" -> exec(_.gcMs),
      "exec.failed_tasks" -> (exec(_.failedTasks) + construct(_.failedTasks)),
      "storage.blocks_left" -> ops.map(_.blocksLeft).sum.toDouble,
      "storage.bytes_left" -> ops.map(_.bytesLeft).sum.toDouble,
      "storage.ops_leaving_blocks" -> ops.count(_.blocksLeft > 0).toDouble,
      "sink.write_ms" -> total("write"),
      "pipeline.jobs" -> (construct(_.jobs) + exec(_.jobs)))
  }
}
