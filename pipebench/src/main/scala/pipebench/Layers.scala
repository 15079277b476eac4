package pipebench

/** Per-layer metrics of one traced round, from its spans and the jobs the
  * listener attributed to them. */
object Layers {

  def ofRound(t: Tracer, r: Int, threads: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.round == r).toSeq
    val byName = spans.groupBy(_.name)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Int] = s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def ms(names: String*): Double = names.flatMap(byName.getOrElse(_, Nil)).map(_.ms).sum
    def jobs(names: String*): Seq[JobStat] =
      t.jobsIn(names.flatMap(byName.getOrElse(_, Nil)).flatMap(subtree).toSet)

    val viewerOps = Main.ViewerOps.map(q => s"viewer.$q")
    val opNames = Seq("ep1", "health", "ep2") ++ viewerOps
    val roots = spans.filter(s => s.parent < 0 && opNames.contains(s.name))
    val roundMs = (roots.map(_.endNs).max - roots.map(_.startNs).min) / 1e6
    val ops = jobs(opNames: _*)
    val ep = jobs("ep1", "ep2")
    val viewer = jobs(viewerOps: _*)
    val reads = Seq("io.read.housing", "io.read.school", "io.read.special")

    Map(
      "io.read_ms.housing" -> ms("io.read.housing"),
      "io.read_ms.school" -> ms("io.read.school"),
      "io.read_ms.special" -> ms("io.read.special"),
      "io.read_jobs" -> jobs(reads: _*).count(_.module != "exec").toDouble,
      "io.write_ms.silver" ->
        ms("io.write.silver.housing", "io.write.silver.school", "io.write.silver.special"),
      "io.write_ms.gold" -> ms("io.write.gold"),
      "io.write_tasks" -> ep.filter(_.module == "io.write").map(_.tasks).sum.toDouble,
      "io.bytes_written" -> ep.map(_.bytesWritten).sum.toDouble,
      "clean.ms.housing" -> ms("clean.housing"),
      "clean.ms.school" -> ms("clean.school"),
      "clean.ms.special" -> ms("clean.special"),
      "gold.build_ms" -> ms("gold.build"),
      "gold.shuffle_bytes" -> jobs("gold.build").map(_.shuffleWrite).sum.toDouble,
      "pipeline.jobs.ep1" -> jobs("ep1").size.toDouble,
      "pipeline.jobs.ep2" -> jobs("ep2").size.toDouble,
      "pipeline.summary_ms" -> ep.filter(_.module == "pipeline").map(_.ms).sum,
      "serve.overhead_ms" -> (ms("ep1") - ms("pipeline.runBronzeToSilverAndGold")),
      "serve.health_ms" -> ms("health"),
      "query.build_ms" -> ms("query.build"),
      "query.plan_ms" -> ms("query.plan"),
      "query.exec_ms" -> ms("query.exec"),
      "query.jobs" -> viewer.size.toDouble,
      "query.eager_jobs" -> viewer.count(_.module != "exec").toDouble,
      "query.countstar_ratio" ->
        ms(viewerOps: _*) / ms(Main.ViewerOps.map(q => s"countstar.$q"): _*),
      "spark.jobs" -> ops.size.toDouble,
      "spark.stages" -> ops.map(_.stages).sum.toDouble,
      "spark.tasks" -> ops.map(_.tasks).sum.toDouble,
      "spark.sched_delay_ms" -> ops.map(_.schedMs).sum.toDouble,
      "spark.task_cpu_ms" -> ops.map(_.cpuNs).sum / 1e6,
      "spark.busy_frac" -> ops.map(_.runMs).sum / (threads * roundMs),
      "spark.shuffle_read_bytes" -> ops.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ops.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ops.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ops.map(_.gcMs).sum.toDouble
    ) ++ Main.ViewerOps.map(q => s"query.ms.$q" -> ms(s"viewer.$q"))
  }

  /** Every span (with its self time: its duration minus the time its child
    * spans cover) and every job, for `trace.json`. */
  def dump(t: Tracer): Map[String, Any] = {
    val childMs = t.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val t0 = if (t.spans.isEmpty) 0L else t.spans.map(_.startNs).min
    Map(
      "spans" -> t.spans.map(s => Map(
        "id" -> s.id, "op" -> s.op, "round" -> s.round, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0)))).toSeq,
      "jobs" -> t.jobs.values.map(j => Map(
        "job" -> j.jobId, "span" -> j.span, "module" -> j.module, "site" -> j.site, "ms" -> j.ms,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuNs / 1e6,
        "gc_ms" -> j.gcMs, "sched_ms" -> j.schedMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "bytes_written" -> j.bytesWritten)).toSeq)
  }
}
