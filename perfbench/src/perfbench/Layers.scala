package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run.
  *
  * Bases: `*_ms` layer times are ms per operation of the traced sequence;
  * counts and bytes are totals over that fixed-length sequence, so for a
  * seed they repeat exactly; per-kind latencies (`read_ms.*`) are medians
  * of the untraced window. */
object Layers {
  val ReadKinds = Seq("point", "range", "tt-id", "tt-view", "tt-sql", "snapshots")
  val CommitKinds = Seq("append", "delete-mor", "delete-cow", "compact", "expire")
  val LayerNames = Seq("op", "queries", "sql", "exec", "table", "probe")
  /** Counts that must repeat exactly for a fixed seed. */
  val Exact = Seq("queries.build_jobs", "table.plan_jobs", "table.files_scanned",
    "table.manifest_list_parses", "exec.tasks", "table.bytes_written.data",
    "table.bytes_written.meta")

  def metrics(tr: Tracer, wl: Workload, traced: Seq[Main.Outcome],
      window: Seq[Main.Outcome], cores: Int, a: Args, work: Path,
      state: Map[String, Double]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val spans = tr.allSpans
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def ms(p: String => Boolean) = named(p).map(_.ms).sum
    def value(p: String => Boolean, key: String) =
      named(p).map(_.values.getOrElse(key, 0.0)).sum
    val ex = tr.jobs(_ == "exec")
    val execMs = ms(_ == "exec")
    val filesTotal = value(_ == "probe.manifest_read", "files_total_scan_api")
    val filesScanned = value(_ == "probe.input_files", "files_scanned")
    val listReads = named(_ == "probe.manifest_read").size
    val parses = value(_ == "probe.manifest_read", "parses")
    val snaps = named(_ == "probe.log_read").lastOption
      .map(_.values.getOrElse("snapshots", 0.0)).getOrElse(0.0)

    val base = Map[String, Double](
      "queries.build_ms" -> ms(_ == "queries.build") / n,
      "queries.build_jobs" -> tr.jobs(_ == "queries.build").jobs.toDouble,
      "sql.analysis_ms" -> ms(_ == "sql.analysis") / n,
      "sql.optimization_ms" -> ms(_ == "sql.optimization") / n,
      "sql.planning_ms" -> ms(_ == "sql.planning") / n,
      "sql.exchanges" -> value(_.startsWith("sql."), "exchanges"),
      "sql.codegen_stages" -> value(_.startsWith("sql."), "codegen_stages"),
      "exec.ms" -> execMs / n,
      "exec.jobs" -> ex.jobs.toDouble,
      "exec.stages" -> ex.stages.toDouble,
      "exec.tasks" -> ex.tasks.toDouble,
      "exec.task_cpu_ms" -> ex.taskCpuNs / 1e6,
      "exec.task_run_ms" -> ex.taskRunMs.toDouble,
      "exec.gc_ms" -> ex.gcMs.toDouble,
      "exec.input_bytes" -> ex.inputBytes.toDouble,
      "exec.shuffle_bytes" -> ex.shuffleBytes.toDouble,
      "exec.spill_bytes" -> ex.spillBytes.toDouble,
      "exec.core_busy" -> (if (execMs > 0) ex.taskRunMs / (cores * execMs) else 0.0),
      "table.load_ms" -> ms(_ == "table.load") / n,
      "table.plan_ms" -> ms(_ == "table.plan") / n,
      "table.plan_jobs" -> tr.jobs(_ == "table.plan").jobs.toDouble,
      "table.files_total" -> filesTotal,
      "table.files_scanned" -> filesScanned,
      "table.prune_ratio" -> (if (filesTotal > 0) 1.0 - filesScanned / filesTotal else 0.0),
      "table.log_read_ms" -> ms(_ == "probe.log_read") / n,
      "table.log_bytes" -> value(_ == "probe.log_read", "bytes"),
      "table.snapshots" -> snaps,
      "table.manifest_read_ms" -> ms(_ == "probe.manifest_read") / n,
      "table.manifest_list_parses" -> parses,
      "table.manifest_list_hit_ratio" ->
        (if (listReads > 0) 1.0 - parses / listReads else 0.0),
      "table.commit_jobs" -> tr.jobs(_.startsWith("table.commit.")).jobs.toDouble,
      "table.bytes_written.data" -> value(_ == "probe.bytes_written", "data"),
      "table.bytes_written.meta" -> value(_ == "probe.bytes_written", "meta"),
      "table.delete_artifacts" -> state.getOrElse("delete_artifacts", 0.0))

    val commitMs = CommitKinds.map { k =>
      val ss = named(_ == s"table.commit.$k")
      s"table.commit_ms.$k" -> (if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size)
    }
    val readMs = ReadKinds.map { k =>
      s"read_ms.$k" -> Stats.median(window.filter(_.kind == k).map(_.ms))
    }
    val self = tr.selfMsByLayer
    val selfMs = LayerNames.map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0) / n)

    // tracing overhead: the traced sequence against the same operations
    // run untraced (the window replays the same seeded sequence)
    val k = math.min(traced.size, window.size)
    val overhead =
      if (k == 0) 0.0
      else traced.take(k).map(_.ms).sum / window.take(k).map(_.ms).sum - 1.0

    val all = base ++ commitMs ++ readMs ++ selfMs ++ Map(
      "trace.overhead_frac" -> overhead,
      "trace.spans" -> spans.size.toDouble,
      "repeat.mismatches" -> repeatCheck(base, wl.name, a.seed, work).toDouble)
    tr.writeJsonLines(work.getParent.resolve("trace").resolve(s"${wl.name}-seed${a.seed}.jsonl"))
    all
  }

  /** Compare the exact counts with the last traced run of the same
    * workload and seed in this checkout; print and count any difference. */
  private def repeatCheck(m: Map[String, Double], wl: String, seed: Long, work: Path): Int = {
    val f = work.getParent.resolve("repeat").resolve(s"$wl-seed$seed.txt")
    val now = Exact.map(k => k -> m(k).toLong)
    val out = if (Files.exists(f)) {
      val before = Files.readAllLines(f).asScala.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v.toLong }.toMap
      val diff = now.filter { case (k, v) => before.get(k).exists(_ != v) }
      diff.foreach { case (k, v) => println(s"REPEAT-MISMATCH $k was ${before(k)} now $v") }
      if (diff.isEmpty) println(s"repeat check: ${Exact.size} counts equal the previous seed-$seed run")
      diff.size
    } else {
      println(s"repeat check: first traced seed-$seed run here, counts recorded")
      0
    }
    Files.createDirectories(f.getParent)
    Files.write(f, now.map { case (k, v) => s"$k=$v" }.asJava)
    out
  }
}
