package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One replica of a workload's state: a table (or fixture directory)
  * built by `setup` from the seed. Every replica of a run starts from the
  * same state and runs the same seeded operation sequence. */
trait Replica {
  /** Run the next operation. Returns its kind and a check that compares
    * the result with the model; the check runs after the clock stops and
    * returns a description of any mismatch. */
  def next(tr: Tracer): (String, () => Option[String])
  /** Measurements of the replica's current state, e.g. bytes on disk. */
  def state(): Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  /** Operations in the traced sequence: a fixed count, so the counts it
    * produces repeat exactly for a seed. */
  def tracedOps: Int
  /** Untimed operations run on the warm-up replica before measuring. */
  def warmOps: Int
  /** Operations per block: every block runs the same mix of kinds, and the
    * window's statistics cover whole blocks only. */
  def blockOps: Int
  def setup(replica: Int): Replica
  /** An untimed correctness pass made once per run (query-pack's golden
    * check); returns (attempted, failures). */
  def verifyPass(r: Replica): (Int, Seq[String]) = (0, Nil)
  def kindClass(kind: String): String
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

object Main {
  val Replicas = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.table.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.table.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(".bench_build/perfbench/work").toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work.resolve("tmp"))
    System.setProperty("java.io.tmpdir", work.resolve("tmp").toString)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.ui.enabled")
      .map(k => s"$k=${spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("-")}")
    println(s"config nproc=$cores extensions=graft.table.GraftExtensions " +
      s"${conf.mkString(" ")} heap_max_mb=${Runtime.getRuntime.maxMemory >> 20}")
    val data = Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
    val golden = Paths.get("perfbench/golden/query_pack.json").toAbsolutePath
    val exit = try a.workload match {
      case "record-golden" =>
        RecordGolden(spark, data, golden, work)
        0
      case "query-pack" =>
        run(spark, new QueryPackWorkload(spark, a.seed, data, golden, work), a, cores, work)
      case "snapshot-scan" => run(spark, new SnapshotScanWorkload(spark, a.seed, work), a, cores, work)
      case "commit-mix" => run(spark, new CommitMixWorkload(spark, a.seed, work), a, cores, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    sys.exit(exit)
  }

  final case class Outcome(kind: String, ms: Double, error: Option[String], endNs: Long)

  /** Run one operation as a root span; the model check runs after. */
  private def timed(r: Replica, tr: Tracer): Outcome = {
    var kind = "?"
    var check: () => Option[String] = () => None
    val t0 = System.nanoTime()
    val err = try {
      tr.span("op") {
        val (k, c) = r.next(tr)
        kind = k; check = c
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val end = System.nanoTime()
    val ms = (end - t0) / 1e6
    if (tr.enabled) tr.spans.findLast(_.name == "op").foreach(s => s.values += ("kind:" + kind) -> 1.0)
    Outcome(kind, ms, err.orElse(try check() catch {
      case e: Throwable => Some(s"check failed: ${e.getMessage}")
    }), end)
  }

  def run(spark: SparkSession, wl: Workload, a: Args, cores: Int, work: Path): Int = {
    val heap = new HeapPeak
    val tracer = new Tracer(spark)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // set-up, several times: each replica is one complete set-up
    val setupS = mutable.ArrayBuffer.empty[Double]
    val reps = (1 to Replicas).map { i =>
      val t0 = System.nanoTime()
      val r = wl.setup(i)
      setupS += (System.nanoTime() - t0) / 1e9
      r
    }
    val Seq(r1, r2, r3) = reps

    def record(o: Outcome): Unit = {
      attempted += 1
      o.error.foreach(e => failures += s"${o.kind}: $e")
    }
    // warm-up on the third replica: JIT, codegen, first reads
    val (vn, vf) = wl.verifyPass(r3)
    attempted += vn; failures ++= vf
    (1 to wl.warmOps).foreach(_ => record(timed(r3, tracer)))

    // traced sequence on the first replica (trace runs only)
    val traced = if (a.trace) {
      tracer.start()
      val out = (1 to wl.tracedOps).map { _ =>
        val o = timed(r1, tracer)
        tracer.drain()
        o
      }
      tracer.stop()
      out.foreach(record)
      out
    } else Nil
    val tracedState = if (a.trace) r1.state() else Map.empty[String, Double]

    // measured window on the second replica, tracing off
    heap.arm()
    val ran = mutable.ArrayBuffer.empty[Outcome]
    val w0 = System.nanoTime()
    val deadline = w0 + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) ran += timed(r2, tracer)
    ran.foreach(record)
    val state = r2.state()
    // statistics over whole blocks, so every seed measures the same mix
    val whole = ran.size / wl.blockOps * wl.blockOps
    val window = if (whole == 0) ran else ran.take(whole)
    val wallS = (window.last.endNs - w0) / 1e9

    val ms = window.map(_.ms)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "ops_per_s" -> window.size / wallS,
      "op_p50_ms" -> Stats.pct(ms.toSeq, 0.50),
      "op_p95_ms" -> Stats.pct(ms.toSeq, 0.95),
      "heap_peak_mb" -> heap.peakMb)
    val byClass = (c: String) => window.filter(o => wl.kindClass(o.kind) == c).map(_.ms).toSeq
    val classes = Map(
      "query_p50_ms" -> Stats.pct(byClass("query"), 0.50),
      "query_p95_ms" -> Stats.pct(byClass("query"), 0.95),
      "read_p50_ms" -> Stats.pct(byClass("read"), 0.50),
      "read_p95_ms" -> Stats.pct(byClass("read"), 0.95),
      "commit_p50_ms" -> Stats.pct(byClass("commit"), 0.50),
      "commit_p95_ms" -> Stats.pct(byClass("commit"), 0.95),
      "bytes_per_row" -> state.getOrElse("bytes_per_row", 0.0),
      "failed_frac" -> failures.size.toDouble / math.max(1, attempted))

    println(s"workload ${wl.name} seed ${a.seed} seconds ${a.seconds} " +
      s"closed-loop clients=1 window_ops=${window.size} ran_ops=${ran.size} " +
      s"setup_runs=${setupS.map(s => f"$s%.3f").mkString(",")}")
    window.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val v = os.map(_.ms).toSeq
      println(f"kind $k%-10s n=${v.size}%5d p50=${Stats.pct(v, 0.5)}%9.2f ms p95=${Stats.pct(v, 0.95)}%9.2f ms")
    }
    val layer: Map[String, Double] =
      if (a.trace) Layers.metrics(tracer, wl, traced.toSeq, window.toSeq, cores, a, work, tracedState) ++ classes
      else Map.empty
    val all = e2e ++ (if (a.trace) layer else classes)
    all.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"metric $k%-32s $v%.6f") }
    failures.take(20).foreach(f => println(s"FAILED $f"))
    val correct = failures.isEmpty
    println(s"correct $correct attempted $attempted failed ${failures.size}")
    val json = all.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,""" +
      s""""failed":${failures.size},"metrics":{$json}}""")
    if (correct) 0 else 1
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(p: Path): Map[String, (Long, Long)] = {
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]).map { f =>
      p.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap finally s.close()
  }
}

/** Highest heap occupancy left after a garbage collection while armed:
  * the memory the operations kept live, read from the collectors' own
  * notifications (the occupancy before a collection depends on when the
  * collector happened to run). */
final class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        peak = math.max(peak, used)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  /** Collect, count the live heap, and start watching. */
  def arm(): Unit = {
    System.gc()
    val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = h
    armed = true
  }
  def peakMb: Double = peak / 1048576.0
}

object Stats {
  def median(v: Seq[Double]): Double = pct(v, 0.5)
  /** Percentile, linear between order statistics; 0 for no samples. */
  def pct(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val x = p * (s.size - 1)
      val i = x.toInt
      if (i + 1 >= s.size) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
