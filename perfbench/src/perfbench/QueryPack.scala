package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** Row count, digest and warm time of one query, recorded at a fixed
  * commit. `digest` is None for queries whose rows differ between two
  * independent executions (checked by row count only); `rows` is None for
  * queries whose row count differs too (checked only to run). */
final case class Golden(rows: Option[Long], digest: Option[String], warmMs: Double)

object Golden {
  def read(p: Path): Map[String, Golden] = {
    val obj = graft.util.Json.parseObject(Files.readString(p))
    obj("queries").asInstanceOf[Map[String, Any]].map { case (n, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      n -> Golden(Option(m.getOrElse("rows", null)).map(num(_).toLong), Option(m.getOrElse("digest", null)).map(_.toString),
        num(m("warm_ms")))
    }
  }
  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case d: Double => d
    case o => o.toString.toDouble
  }

  /** Order-independent digest: the sum of a 64-bit hash of each row's
    * canonical text. Doubles are rounded to 9 significant digits and
    * checkout-specific path prefixes are replaced, so the digest does not
    * depend on summation order or on where the benchmark runs. */
  def digest(df: DataFrame, roots: Seq[String]): (Long, String) = {
    val rows = df.collect()
    var acc = 0L
    rows.foreach { r =>
      val s = canon(r, roots)
      acc += (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def canon(v: Any, roots: Seq[String]): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN) "NaN" else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble, roots)
    case r: Row => r.toSeq.map(canon(_, roots)).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon(_, roots)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k, roots) + "->" + canon(x, roots) }.sorted.mkString("{", ",", "}")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: String => roots.foldLeft(s)((x, r) => x.replace(r, "<root>"))
    case o => o.toString
  }
}

/** `SparkEntry.queries` over the bundled tables, as a stratified sample:
  * the pack, sorted by recorded warm time, is cut into strata of
  * [[Stratum]] queries and the median query of each is taken, so the
  * sample spans the pack's whole latency range. The seed sets the order of
  * every pass over the sample. The sample is the same for every seed: a
  * per-seed sample moved the median latency by a third between seeds. */
final class QueryPackWorkload(spark: SparkSession, seed: Long, dataDir: String,
    goldenPath: Path, work: Path) extends Workload {
  val name = "query-pack"
  val Stratum = 32
  private val golden = Golden.read(goldenPath)
  require(golden.keySet == SparkEntry.queries.keySet,
    s"golden file and query pack differ: " +
      s"${(golden.keySet diff SparkEntry.queries.keySet) ++ (SparkEntry.queries.keySet diff golden.keySet)}")
  val sample: Seq[String] =
    golden.toSeq.sortBy { case (n, g) => (g.warmMs, n) }.map(_._1)
      .grouped(Stratum).map(g => g(g.size / 2)).toSeq
  val tracedOps: Int = sample.size
  val warmOps: Int = sample.size
  val blockOps: Int = sample.size
  def kindClass(kind: String): String = "query"
  // the versioned fixtures live under java.io.tmpdir; set-up rebuilds them
  // in place (a catalog a fixture registers keeps its first warehouse
  // path for the session, so the path must not change)
  private val fixtures = Paths.get(sys.props("java.io.tmpdir"), "graft_fixtures")
  private val roots = Seq(fixtures.toString, dataDir, work.toString)

  final class QueryReplica extends Replica {
    private val rng = new java.util.Random(seed * 31 + 7)
    private var order: List[String] = Nil
    def next(tr: Tracer): (String, () => Option[String]) = {
      if (order.isEmpty) order = Workloads.shuffle(rng, sample).toList
      val q = order.head
      order = order.tail
      val df = tr.span("queries.build")(SparkEntry.queries(q)(spark, dataDir))
      tr.span("exec")(df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      "query" -> (() => None)
    }
  }

  /** Rebuilds the versioned fixtures from scratch and builds every sampled
    * query's DataFrame. */
  def setup(replica: Int): Replica = {
    Main.deleteTree(fixtures)
    sample.foreach(q => SparkEntry.queries(q)(spark, dataDir))
    new QueryReplica
  }

  /** Each sampled query once, collected and compared with the golden
    * row count and digest. */
  override def verifyPass(r: Replica): (Int, Seq[String]) = {
    val bad = sample.flatMap { q =>
      val g = golden(q)
      try {
        val (n, d) = Golden.digest(SparkEntry.queries(q)(spark, dataDir), roots)
        spark.catalog.clearCache()
        if (g.rows.exists(_ != n)) Some(s"$q: $n rows, golden ${g.rows.get}")
        else if (g.digest.exists(_ != d)) Some(s"$q: digest $d, golden ${g.digest.get}")
        else None
      } catch { case e: Throwable => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    (sample.size, bad)
  }
}

/** Records the golden file: every query collected after two independent
  * fixture builds (digest kept only when both agree) and timed once warm
  * through the noop sink. */
object RecordGolden {
  def apply(spark: SparkSession, dataDir: String, out: Path, work: Path): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val fx = Paths.get(sys.props("java.io.tmpdir"), "graft_fixtures")
    // each pass rebuilds the fixtures, so digests that depend on a
    // fixture build (file names, write times) differ between passes
    def pass(): Map[String, (Long, String)] = {
      Main.deleteTree(fx)
      names.map { q =>
        val r = Golden.digest(SparkEntry.queries(q)(spark, dataDir), Seq(fx.toString, dataDir, work.toString))
        spark.catalog.clearCache()
        q -> r
      }.toMap
    }
    val a = pass()
    val warm = names.map { q =>
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      q -> (System.nanoTime() - t0) / 1e6
    }.toMap
    val b = pass()
    val entries = names.map { q =>
      q -> Map("rows" -> (if (a(q)._1 == b(q)._1) Long.box(a(q)._1) else null),
        "digest" -> (if (a(q)._2 == b(q)._2) a(q)._2 else null),
        "warm_ms" -> BigDecimal(warm(q)).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val unstable = names.filter(q => a(q)._2 != b(q)._2)
    println(s"recorded ${names.size} queries; without digest: ${unstable.mkString(",")}; " +
      s"without row count: ${names.filter(q => a(q)._1 != b(q)._1).mkString(",")}")
    val body = entries.map { case (q, m) => s"    \"$q\": ${graft.util.Json.write(m)}" }.mkString(",\n")
    Files.writeString(out, s"{\n  \"data\": \"sf0.001\",\n  \"queries\": {\n$body\n  }\n}\n")
  }
}
