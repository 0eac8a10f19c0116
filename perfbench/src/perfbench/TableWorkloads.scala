package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.table.{GraftCatalog, GraftTable, Manifest, PerfbenchCounters, SnapshotLog}

/** Rows are `(k, v)` with `v` a seeded function of `k`. A read returns
  * `(count, checksum)`, the checksum being an order-independent sum of a
  * per-row hash that the model computes the same way. */
object Rows {
  val Schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
  private val M = 2147483647L
  def v(k: Long, seed: Long): Long = Math.floorMod(k * 2654435761L + seed, 1000003L)
  def hash(k: Long, seed: Long): Long =
    Math.floorMod(XXH64.hashLong(v(k, seed), XXH64.hashLong(k, 42L)), M)
  def frame(spark: SparkSession, from: Long, until: Long, files: Int, seed: Long): DataFrame =
    spark.range(from, until, 1, files).select(col("id").as("k"),
      pmod(col("id") * lit(2654435761L) + lit(seed), lit(1000003L)).as("v"))
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(col("k"), col("v")), lit(M)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
  val DigestSql = s"count(1), sum(pmod(xxhash64(k, v), $M))"
  def digestRow(df: DataFrame): (Long, Long) = {
    val r = df.head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
  def check(what: String, got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"$what: got (rows, checksum) $got, model $want")
}

/** Shared set-up and traced calls of the two table workloads. */
abstract class TableReplica(spark: SparkSession, val dir: String, seed: Long) extends Replica {
  protected val rng = new java.util.Random(seed)
  protected def table(tr: Tracer): GraftTable = tr.span("table.load")(GraftTable.load(dir))

  /** Trace-only decomposition of planning: the log and the manifest list
    * this read resolves, read on their own. */
  protected def decompose(tr: Tracer, snap: Option[Long], scanApi: Boolean): Unit =
    if (tr.enabled) {
      val log = tr.span("probe.log_read") {
        val p = Paths.get(dir, "snapshots.json")
        tr.note("bytes", Files.size(p).toDouble)
        val l = SnapshotLog.read(p.toString)
        tr.note("snapshots", l.snapshots.size.toDouble)
        l
      }
      snap.orElse(log.current.map(_.snapshotId)).flatMap(log.byId).foreach { s =>
        tr.span("probe.manifest_read") {
          val before = PerfbenchCounters.manifestListParses
          val m = Manifest.read(s"$dir/${s.manifestList}")
          tr.note("parses", (PerfbenchCounters.manifestListParses - before).toDouble)
          if (scanApi) tr.note("files_total_scan_api", m.totalFiles.toDouble)
        }
      }
    }

  /** A read through `GraftTable.scan`. */
  protected def scanRead(tr: Tracer, filter: Column, snap: Option[Long]): (Long, Long) = {
    val t = table(tr)
    decompose(tr, snap, scanApi = true)
    val df = tr.span("table.plan")(t.scan(spark, Some(filter)))
    if (tr.enabled) tr.span("probe.input_files")(tr.note("files_scanned", df.inputFiles.length.toDouble))
    tr.span("exec")(Rows.digest(df))
  }

  /** A read through SQL; `snap` only feeds the trace decomposition. */
  protected def sqlRead(tr: Tracer, sql: String, snap: Option[Long]): (Long, Long) = {
    decompose(tr, snap, scanApi = false)
    val df = tr.span("sql.build")(spark.sql(sql))
    tr.span("exec")(Rows.digestRow(df))
  }

  /** A commit, with the bytes it wrote measured when tracing. */
  protected def commit[T](tr: Tracer, kind: String)(f: GraftTable => T): T = {
    val t = table(tr)
    val before: Map[String, (Long, Long)] =
      if (tr.enabled) tr.span("probe.bytes_written")(Main.treeBytes(Paths.get(dir))) else Map.empty
    val r = tr.span(s"table.commit.$kind")(f(t))
    if (tr.enabled) tr.span("probe.bytes_written") {
      Main.treeBytes(Paths.get(dir)).foreach { case (p, sm) =>
        if (!before.get(p).contains(sm))
          tr.note(if (p.startsWith("data/") || p.startsWith("deletes/")) "data" else "meta", sm._1.toDouble)
      }
    }
    r
  }

  override def state(): Map[String, Double] = {
    val files = Main.treeBytes(Paths.get(dir))
    Map("table_bytes" -> files.values.map(_._1).sum.toDouble,
      "delete_artifacts" -> files.keys.count(_.startsWith("deletes/")).toDouble)
  }
}

object TableSetup {
  val Base = 1700000000000L

  /** A table whose history is `commits` jobless commits of `filesPerCommit`
    * files each; file i holds keys [i*rows, (i+1)*rows), so min/max
    * pruning keeps exactly the files a key range touches. One Spark job
    * writes every file; `commitStreamFiles` commits them in order. */
  def seeded(spark: SparkSession, warehouse: Path, name: String, commits: Int,
      filesPerCommit: Int, rows: Int, seed: Long): String = {
    val dir = warehouse.resolve("db").resolve(name)
    new GraftCatalog(warehouse.toString).createTable(s"db.$name", Rows.Schema)
    val stage = warehouse.resolve(s"stage-$name")
    val files = commits * filesPerCommit
    // one task per core, rolling to a new file every `rows` rows: file
    // names sort in key order (part index, then roll-over counter)
    val parallel = (1 to spark.sparkContext.defaultParallelism).filter(files % _ == 0).max
    Rows.frame(spark, 0, files.toLong * rows, parallel, seed)
      .write.option("maxRecordsPerFile", rows.toLong).parquet(stage.toString)
    val parts = {
      val s = Files.list(stage)
      try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")
        && p.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    require(parts.size == files, s"expected $files seed files, found ${parts.size}")
    Files.createDirectories(dir.resolve("data"))
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, dir.resolve(f"data/seed-$i%05d.parquet"))
    }
    Main.deleteTree(stage)
    val t = GraftTable.load(dir.toString)
    (0 until commits).foreach { c =>
      t.commitStreamFiles(
        (c * filesPerCommit until (c + 1) * filesPerCommit).map(i => f"data/seed-$i%05d.parquet"),
        "perfbench-seed", c.toLong, Some(Base + c * 1000L))
    }
    dir.toString
  }
}

/** Reads over a many-file table whose history fits the manifest caches.
  * Snapshot j (1-based) holds keys [0, j * FilesPerCommit * RowsPerFile). */
final class SnapshotScanWorkload(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "snapshot-scan"
  val Commits = 24
  val FilesPerCommit = 10
  val RowsPerFile = 100
  val PerSnap = FilesPerCommit * RowsPerFile
  val Keys = Commits.toLong * PerSnap
  /** One block of operations, in a seeded order per block. */
  private val Block = Seq("point" -> 6, "range" -> 4, "tt-id" -> 3,
    "tt-view" -> 2, "tt-sql" -> 3, "snapshots" -> 2)
  val tracedOps = 20
  val warmOps = 20
  val blockOps = 20
  private val warehouse = work.resolve("warehouse")

  def kindClass(kind: String): String = "read"

  def setup(replica: Int): Replica = {
    val tname = s"ss_r$replica"
    val dir = TableSetup.seeded(spark, warehouse, tname, Commits, FilesPerCommit, RowsPerFile, seed)
    new GraftCatalog(warehouse.toString).register(spark, s"db.$tname")
    new TableReplica(spark, dir, seed) {
      private val kinds = new Workloads.Blocks(rng, Block, Nil)
      def next(tr: Tracer): (String, () => Option[String]) = {
        val kind = kinds.next()
        val span = Keys / 20
        kind match {
          case "point" =>
            val k = Math.floorMod(rng.nextLong(), Keys)
            val got = scanRead(tr, col("k") === k, None)
            kind -> (() => Rows.check(s"point k=$k", got, model(Commits, k, k)))
          case "range" =>
            val a = Math.floorMod(rng.nextLong(), Keys - span)
            val got = scanRead(tr, col("k").between(a, a + span - 1), None)
            kind -> (() => Rows.check(s"range $a", got, model(Commits, a, a + span - 1)))
          case "tt-id" =>
            val j = 1 + rng.nextInt(Commits)
            val a = Math.floorMod(rng.nextLong(), Keys - span)
            val got = scanRead(tr, col("k").between(a, a + span - 1) &&
              col(GraftTable.DefaultVirtualColumn) === j.toLong, Some(j.toLong))
            kind -> (() => Rows.check(s"tt-id j=$j a=$a", got, model(j, a, a + span - 1)))
          case "tt-view" =>
            val j = 1 + rng.nextInt(Commits)
            val a = Math.floorMod(rng.nextLong(), Keys - span)
            val got = sqlRead(tr, s"SELECT ${Rows.DigestSql} FROM db_$tname " +
              s"WHERE snapshot__id = $j AND k BETWEEN $a AND ${a + span - 1}", Some(j.toLong))
            kind -> (() => Rows.check(s"tt-view j=$j a=$a", got, model(j, a, a + span - 1)))
          case "tt-sql" =>
            val j = 1 + rng.nextInt(Commits)
            val a = Math.floorMod(rng.nextLong(), Keys - span)
            val got = sqlRead(tr, s"SELECT ${Rows.DigestSql} FROM graft.db.$tname " +
              s"VERSION AS OF $j WHERE k BETWEEN $a AND ${a + span - 1}", Some(j.toLong))
            kind -> (() => Rows.check(s"tt-sql j=$j a=$a", got, model(j, a, a + span - 1)))
          case "snapshots" =>
            val got = sqlRead(tr, s"SELECT count(1), sum(snapshot_id) FROM db_${tname}__snapshots", None)
            kind -> (() => Rows.check("snapshots", got, (Commits.toLong, Commits.toLong * (Commits + 1) / 2)))
        }
      }
    }
  }

  /** Rows of snapshot j with keys in [lo, hi]. */
  private def model(j: Int, lo: Long, hi: Long): (Long, Long) = {
    var n = 0L; var s = 0L; var k = lo
    val end = math.min(hi, j.toLong * PerSnap - 1)
    while (k <= end) { n += 1; s += Rows.hash(k, seed); k += 1 }
    (n, s)
  }
}

/** One writer's mix of small appends, merge-on-read and copy-on-write
  * deletes, periodic compaction and expiry, and reads at the current and
  * at past snapshots of a history that keeps growing. */
final class CommitMixWorkload(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "commit-mix"
  val SeedCommits = 100
  val RowsPerFile = 100
  val AppendRows = 100
  val RetainLast = 120
  /** Files below this size are compacted: the appended 100-row files, not
    * the compacted output, so every compaction does about the same work. */
  val SmallFileBytes = 32L << 10
  /** One block of operations in a seeded order, then the periodic
    * background work: a compaction and an expiry. */
  private val Block = Seq("append" -> 3, "delete-mor" -> 1, "delete-cow" -> 1,
    "range" -> 2, "tt-id" -> 1)
  private val Background = Seq("compact", "expire")
  val tracedOps = 20
  val warmOps = 10
  val blockOps = 10
  private val warehouse = work.resolve("warehouse")

  def kindClass(kind: String): String =
    if (kind == "range" || kind == "tt-id") "read" else "commit"

  def setup(replica: Int): Replica = {
    val dir = TableSetup.seeded(spark, warehouse, s"cm_r$replica", SeedCommits, 1, RowsPerFile, seed)
    new TableReplica(spark, dir, seed) {
      private val live = new java.util.BitSet()
      private var nextKey = SeedCommits.toLong * RowsPerFile
      private var liveRows = 0L
      // the live keys of every snapshot still in the log
      private val snaps = mutable.LinkedHashMap.empty[Long, java.util.BitSet]
      private var ts = TableSetup.Base + SeedCommits * 1000L
      private val kinds = new Workloads.Blocks(rng, Block, Background)
      locally {
        (0 until SeedCommits).foreach { c =>
          (c.toLong * RowsPerFile until (c + 1L) * RowsPerFile).foreach(add)
          snaps(c + 1L) = live.clone().asInstanceOf[java.util.BitSet]
        }
        // compact the seeded files once, so the first block's compaction
        // is no heavier than the later ones
        GraftTable.load(dir).compact(spark, SmallFileBytes, Some(stamp())).foreach(s => record(s.snapshotId))
      }
      private def add(k: Long): Unit = { live.set(k.toInt); liveRows += 1 }
      private def kill(lo: Long, hi: Long): Int = {
        val n = live.get(lo.toInt, hi.toInt + 1).cardinality()
        live.clear(lo.toInt, hi.toInt + 1)
        liveRows -= n
        n
      }
      private def record(id: Long): Unit = snaps(id) = live.clone().asInstanceOf[java.util.BitSet]
      private def stamp(): Long = { ts += 1000L; ts }
      private def current: Long = snaps.keys.last

      def next(tr: Tracer): (String, () => Option[String]) = {
        val kind = kinds.next()
        kind match {
          case "append" =>
            val lo = nextKey
            nextKey += AppendRows
            val s = commit(tr, kind)(_.append(Rows.frame(spark, lo, lo + AppendRows, 1, seed), Some(stamp())))
            (lo until lo + AppendRows).foreach(add)
            record(s.snapshotId)
            kind -> (() => None)
          case "delete-mor" | "delete-cow" =>
            val lo = Math.floorMod(rng.nextLong(), nextKey - 10)
            val pred = col("k").between(lo, lo + 9)
            val t = stamp()
            val s = commit(tr, kind)(g =>
              if (kind == "delete-mor") g.deletePositional(spark, pred, Some(t))
              else g.delete(spark, pred, Some(t)))
            val killed = kill(lo, lo + 9)
            s.foreach(x => record(x.snapshotId))
            kind -> (() =>
              if (s.isEmpty && killed > 0) Some(s"$kind [$lo, ${lo + 9}] committed nothing, model removed $killed rows")
              else None)
          case "compact" =>
            val s = commit(tr, kind)(_.compact(spark, SmallFileBytes, Some(stamp())))
            s.foreach(x => record(x.snapshotId))
            kind -> (() => None)
          case "expire" =>
            val gone = commit(tr, kind)(_.expireSnapshots(ts + 1, RetainLast))
            gone.foreach(snaps.remove)
            kind -> (() => if (snaps.isEmpty) Some("expire removed every snapshot") else None)
          case "range" =>
            val span = nextKey / 20
            val lo = Math.floorMod(rng.nextLong(), nextKey - span)
            val got = scanRead(tr, col("k").between(lo, lo + span - 1), None)
            val want = rangeModel(live, lo, lo + span - 1)
            kind -> (() => Rows.check(s"range $lo at current", got, want))
          case "tt-id" =>
            val past = snaps.keys.toIndexedSeq.dropRight(1)
            val j = if (past.isEmpty) current else past(rng.nextInt(past.size))
            val span = nextKey / 20
            val lo = Math.floorMod(rng.nextLong(), nextKey - span)
            val want = rangeModel(snaps(j), lo, lo + span - 1)
            val got = scanRead(tr, col("k").between(lo, lo + span - 1) &&
              col(GraftTable.DefaultVirtualColumn) === j, Some(j))
            kind -> (() => Rows.check(s"range $lo at snapshot $j", got, want))
        }
      }

      private def rangeModel(bits: java.util.BitSet, lo: Long, hi: Long): (Long, Long) = {
        var n = 0L; var s = 0L
        var k = bits.nextSetBit(lo.toInt)
        while (k >= 0 && k <= hi) { n += 1; s += Rows.hash(k, seed); k = bits.nextSetBit(k + 1) }
        (n, s)
      }

      override def state(): Map[String, Double] = {
        val st = super.state()
        st + ("bytes_per_row" -> st("table_bytes") / math.max(1L, liveRows))
      }
    }
  }
}

object Workloads {
  /** Operation kinds in blocks: each block holds every kind of `mix` its
    * count of times, in a seeded order, followed by `tail`; so every
    * window runs the same mix whatever the seed. */
  final class Blocks(rng: java.util.Random, mix: Seq[(String, Int)], tail: Seq[String]) {
    private var queue: List[String] = Nil
    def next(): String = {
      if (queue.isEmpty)
        queue = (shuffle(rng, mix.flatMap { case (k, n) => Seq.fill(n)(k) }) ++ tail).toList
      val k = queue.head
      queue = queue.tail
      k
    }
  }
  def shuffle[T: scala.reflect.ClassTag](rng: java.util.Random, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
