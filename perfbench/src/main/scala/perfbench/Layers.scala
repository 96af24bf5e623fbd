package perfbench

/** Per-layer metrics of a traced run, read off the span tree. Every run
  * reports every name in [[names]]; a layer a workload does not touch
  * reads 0. Batch sums are per pass (median over traced passes); stream
  * figures are per micro-batch of the paced phases. */
object Layers {
  val stageKeys = Seq("count", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb")
  val stagePhases = Seq("construct", "execute", "trigger")

  val names: Seq[String] =
    Seq("tables.resolve_ms", "tables.resolve_jobs",
      "query.construct_s", "query.construct_jobs", "query.plan_s", "query.execute_s",
      "query.execute_jobs") ++
      Batch.queries.flatMap(q => Seq(s"op.$q.construct_s", s"op.$q.execute_s")) ++
      stagePhases.flatMap(p => stageKeys.map(k => s"stage.$p.$k")) ++
      Seq("arrivals.latest_offset_ms", "arrivals.listing_calls", "arrivals.files_renamed",
        "arrivals.rename_failures", "arrivals.pending_files",
        "micro.trigger_ms", "micro.add_batch_ms", "micro.wal_commit_ms",
        "micro.commit_offsets_ms", "micro.batches",
        "state.rows_total", "state.memory_mb", "state.commit_ms",
        "gen.late_ms")

  private final class View(tr: Tracer) {
    val kids: Map[Long, Seq[Span]] = tr.tree()
    def children(id: Long): Seq[Span] = kids.getOrElse(id, Nil)
    def below(id: Long): Seq[Span] = children(id).flatMap(c => c +: below(c.id))
    def stages(jobs: Seq[Span]): Seq[Span] = jobs.flatMap(j => children(j.id)).filter(_.kind == "stage")
  }

  private def stageSums(stages: Seq[Span]): Map[String, Double] = {
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val mb = 1024.0 * 1024.0
    Map("count" -> stages.size.toDouble, "tasks" -> sum("tasks"),
      "task_s" -> sum("task_ms") / 1e3, "task_cpu_s" -> sum("cpu_ms") / 1e3,
      "gc_s" -> sum("gc_ms") / 1e3, "shuffle_read_mb" -> sum("shuffle_read_b") / mb,
      "shuffle_write_mb" -> sum("shuffle_write_b") / mb, "spill_mb" -> sum("spill_b") / mb)
  }

  private def finish(cfg: Config, res: Result, tr: Tracer, got: Map[String, Double],
      overhead: String): Unit = {
    names.foreach(n => res.metric(n, got.getOrElse(n, 0.0)))
    val unknown = got.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics outside the declared list: $unknown")
    res.details("trace_overhead") = overhead
    res.details("trace_file") = Json.str(cfg.traceOut)
    res.details("not_measured") = Json.str(
      "expression-level time (graft.functions native expressions) is not separable " +
        "from outside the program: it shows only inside stage task CPU")
    tr.write(java.nio.file.Paths.get(cfg.traceOut),
      s""""workload":${Json.str(cfg.workload)},"seed":${cfg.seed},"overhead":$overhead""")
  }

  def batch(cfg: Config, res: Result, tr: Tracer, passes: Seq[Batch.Pass]): Unit = {
    tr.drain()
    val v = new View(tr)
    val traced = passes.filter(_.traced)
    // per traced pass, then the median over passes
    val perPass = traced.map { p =>
      val queries = v.children(p.span).filter(_.kind == "query")
      val phases = queries.flatMap(q => v.children(q.id))
      def ofKind(k: String) = phases.filter(_.kind == k)
      def jobs(k: String) = ofKind(k).flatMap(s => v.children(s.id)).filter(_.kind == "job")
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      m("query.construct_s") = ofKind("construct").map(_.durMs).sum / 1e3
      m("query.plan_s") = ofKind("plan").map(_.durMs).sum / 1e3
      m("query.execute_s") = ofKind("execute").map(_.durMs).sum / 1e3
      m("query.construct_jobs") = jobs("construct").size
      m("query.execute_jobs") = jobs("execute").size
      Seq("construct", "execute").foreach { ph =>
        stageSums(v.stages(jobs(ph))).foreach { case (k, x) => m(s"stage.$ph.$k") = x }
      }
      queries.foreach { q =>
        v.children(q.id).foreach { ph =>
          if (ph.kind == "construct" || ph.kind == "execute")
            m(s"op.${q.name}.${ph.kind}_s") = ph.durMs / 1e3
        }
      }
      m.toMap
    }
    // the Tables probe that follows each traced pass
    val probes = tr.all.filter(_.kind == "tables").map { t =>
      val tbl = v.children(t.id).filter(_.kind == "table")
      Map("tables.resolve_ms" -> tbl.map(_.durMs).sum,
        "tables.resolve_jobs" -> tbl.flatMap(s => v.children(s.id)).count(_.kind == "job").toDouble)
    }
    val rows = perPass ++ probes
    val keys = rows.flatMap(_.keys).distinct
    val got = keys.map(k => k -> Stats.median(rows.flatMap(_.get(k)))).toMap
    val tw = Stats.median(traced.map(_.wallS))
    val uw = Stats.median(passes.filterNot(_.traced).map(_.wallS))
    finish(cfg, res, tr, got,
      s"""{"pass_s_traced":${Json.num(tw)},"pass_s_untraced":${Json.num(uw)},""" +
        s""""pass_s_delta":${Json.num(tw - uw)}}""")
  }

  def ingest(cfg: Config, res: Result, tr: Tracer, drains: Seq[Ingest.Phase],
      paced: Seq[Ingest.Phase]): Unit = {
    tr.drain()
    val v = new View(tr)
    val trig = paced.flatMap(p => v.children(p.span)).filter(t => t.kind == "trigger" &&
      t.attrs.getOrElse("input_rows", 0.0) > 0)
    def med(k: String) = if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.attrs.getOrElse(k, 0.0)))
    def max(k: String) = trig.map(_.attrs.getOrElse(k, 0.0)).foldLeft(0.0)(math.max)
    val jobs = trig.flatMap(t => v.below(t.id)).filter(_.kind == "job")
    val perBatch = stageSums(v.stages(jobs)).map { case (k, x) =>
      s"stage.trigger.$k" -> x / math.max(1, trig.size)
    }
    val got = perBatch ++ Map(
      "arrivals.latest_offset_ms" -> med("latestOffset_ms"),
      "arrivals.listing_calls" -> max("src.listingCalls"),
      "arrivals.files_renamed" -> max("src.filesRenamed"),
      "arrivals.rename_failures" -> max("src.renameFailures"),
      "arrivals.pending_files" -> max("src.pendingFiles"),
      "micro.trigger_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.durMs))),
      "micro.add_batch_ms" -> med("addBatch_ms"),
      "micro.wal_commit_ms" -> med("walCommit_ms"),
      "micro.commit_offsets_ms" -> med("commitOffsets_ms"),
      "micro.batches" -> trig.size.toDouble,
      "state.rows_total" -> max("state.rows_total"),
      "state.memory_mb" -> max("state.memory_b") / (1024.0 * 1024.0),
      "state.commit_ms" -> med("state.commit_ms"),
      "gen.late_ms" -> Stats.quantile(paced.flatMap(_.lateMs), 0.99))
    val tw = Stats.median(drains.filter(_.traced).map(_.wallS))
    val uw = Stats.median(drains.filterNot(_.traced).map(_.wallS))
    val n = Ingest.BacklogFiles.toDouble
    finish(cfg, res, tr, got,
      s"""{"drain_files_per_s_traced":${Json.num(n / tw)},""" +
        s""""drain_files_per_s_untraced":${Json.num(n / uw)},""" +
        s""""drain_files_per_s_delta":${Json.num(n / tw - n / uw)}}""")
  }
}
