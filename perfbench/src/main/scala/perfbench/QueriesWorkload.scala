package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{Bench, SparkEntry, Verify}
import graft.pipeline.Staging

/** A pass over `SparkEntry.queries` rows (see [[QueriesWorkload.Rows]]) on
  * the seeded `documents` and `embeddings` tables and `.log` files that
  * `perfbench/inputs.py` writes. Every pass runs in a fresh session, so the
  * program's session-keyed memo caches start empty and each pass pays for
  * its own staged artifacts.
  *
  * Correctness: the first timed pass of a run is the reference. After the timed
  * loop its results are dumped with `SparkEntry.oracleSql` (prepared as
  * `graft.Verify` prepares it), and the launcher compares them with DuckDB
  * on the same tables. Every later pass must reproduce the reference's
  * digests.
  */
final class QueriesWorkload(sf: Double, work: Path) extends Workload {
  type Result = Seq[QueriesWorkload.RowResult]

  import QueriesWorkload._

  private val logs = new RawLogs(chunkBytes = 1L << 20)
  private var dir: Path = _
  private var sfDir = ""
  private var reference: Result = Nil

  /** The tables directory relative to the working directory: the program
    * sizes some rows by an `sf<scale>` segment of this path, which must
    * not be confused by the rest of the absolute path.
    */
  private def bind(dir: Path): Unit = {
    this.dir = dir
    sfDir = work.relativize(dir.resolve(tablesDir(sf))).toString
  }

  /** Runs one row, timed; an exception is a failed row. */
  private def runRow(s: SparkSession, name: String, tr: Option[(Tracer, Layers)] = None): RowResult = {
    val t0 = System.nanoTime()
    try {
      if (name == LogRow) {
        val r = tr match {
          case Some((t, layers)) => logs.traced(s, t, layers)
          case None => logs.job(s)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        RowResult(name, secs, (if (r(1) == logs.bytes) "" else "wrong: ") + r.mkString(","), None)
      } else {
        val df = SparkEntry.queries(name)(s, sfDir)
        val rows = df.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        RowResult(name, secs, digest(rows), Some((df.schema, rows)))
      }
    } catch { case e: Exception => RowResult(name, (System.nanoTime() - t0) / 1e9, s"error: $e", None) }
  }

  /** The launcher writes this workload's inputs (`perfbench/inputs.py`). */
  def stage(spark: SparkSession, dir: Path, seed: Long): Unit = ()

  def load(dir: Path): Unit = {
    bind(dir)
    logs.load(dir.resolve("rawlogs"))
  }

  /** One whole pass in its own session, so the timed passes run warm. */
  def warmup(spark: SparkSession): Unit = job(spark, -1)

  def job(spark: SparkSession, i: Int): Result = {
    val s = spark.newSession()
    Rows.map(runRow(s, _))
  }

  def check(r: Result): (Int, Int) = {
    if (reference.isEmpty) reference = r
    val want = reference.map(x => x.name -> x.digest).toMap
    (r.length, r.count(x => x.failed || !want.get(x.name).contains(x.digest)))
  }

  /** Checks the reference pass's `l` row ([[RawLogs.verify]]), and dumps
    * its other rows for the launcher's oracle compare into `oracle/`.
    */
  override def finalCheck(spark: SparkSession): Boolean = {
    val out = dir.resolve("oracle")
    Staging.deleteRecursively(out.toString)
    Files.createDirectories(out)
    reference.foreach { x =>
      x.rows.foreach { case (schema, rows) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(out.resolve(x.name).toString)
      }
    }
    val m1 = Verify.m1ExpectedValues(sfDir)
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Rows.contains(k) }
      .map { case (k, v) => k -> v.replace("{M1_VALUES}", m1) }
    Files.write(out.resolve("oracle_sql.json"), Json.value(sql).getBytes(StandardCharsets.UTF_8))
    reference.find(_.name == LogRow).exists(x => !x.failed && logs.verify(spark, x.digest.split(",").map(_.toLong).toSeq))
  }

  def named(r: Result, seconds: Double): Seq[(String, Double, String)] =
    Seq(("queries_s", r.map(_.seconds).sum, "s"),
      ("log_mb_per_s", logs.megabytes / r.find(_.name == LogRow).get.seconds, "MB/s")) ++
      r.map(x => (s"row.${x.name}", x.seconds, "s"))

  def lexerSample(spark: SparkSession): Array[String] = logs.lexerSample

  /** A traced pass between two untraced ones, each in a fresh session; the
    * tracing overhead is measured against the mean of the untraced passes,
    * so JIT warm-up does not read as overhead. In the traced pass every row
    * runs twice in a row: the first call is the row as a pass runs it, the
    * repeat finds the session's staged artifacts already built, so
    * first − repeat is the staging the row paid for.
    */
  def traced(spark: SparkSession, tr: Tracer, lc: StageCounters, i: Int,
             layers: Layers): (Int, Int) = {
    val sc = spark.sparkContext
    var attempted = 0
    var failed = 0
    def untraced(): Double = {
      sc.removeSparkListener(lc)
      val r = job(spark, i)
      val (a, f) = check(r)
      attempted += a
      failed += f
      sc.addSparkListener(lc)
      r.map(_.seconds).sum
    }
    val before = untraced()
    lc.reset()
    Workload.takeHeapPeakMb()
    val s = spark.newSession()
    val family = mutable.LinkedHashMap(Families.map(_ -> 0.0): _*)
    var firstTouch = 0.0
    val traced = tr.span("sparkentry.pass") {
      Rows.map { name =>
        val first = tr.span(s"sparkentry.$name")(lc.tagged(sc, "run")(runRow(s, name, Some((tr, layers)))))._1
        val repeat = tr.span(s"sparkentry.$name.repeat")(runRow(s, name))._1
        family(name.take(1)) += first.seconds
        firstTouch += first.seconds - repeat.seconds
        first
      }
    }._1
    layers.add("jvm.peak_heap_mb", Workload.takeHeapPeakMb())
    val (tracedAttempted, tracedFailed) = check(traced)
    layers.add("trace.overhead_s", traced.map(_.seconds).sum - (before + untraced()) / 2)
    family.foreach { case (f, secs) => layers.add(s"sparkentry.${f}_s", secs) }
    layers.add("sparkentry.first_touch_s", firstTouch)
    val run = lc.totalsOf(sc, "run")
    layers.add("spark.cpu_s", run.cpuNs / 1e9)
    layers.add("spark.gc_s", run.gcMs / 1e3)
    layers.add("spark.shuffle_write_bytes", run.shuffleWriteBytes.toDouble)
    layers.add("spark.tasks", run.tasks.toDouble)
    IdleLayers.foreach(layers.add(_, 0.0))
    (attempted + tracedAttempted, failed + tracedFailed)
  }
}

object QueriesWorkload {
  /** One row of a pass: its wall time, the digest of its result (or what
    * went wrong), and the result itself for the oracle dump.
    */
  final case class RowResult(name: String, seconds: Double, digest: String,
                             rows: Option[(StructType, Array[Row])]) {
    def failed: Boolean = digest.startsWith("error: ") || digest.startsWith("wrong: ")
  }

  val LogRow = "l_logfiles"

  /** The rows of a pass, in `Bench.HeadlineQueries` order: each operator
    * family (`Dedup`, `Similarity`, `TextAnalysis`, `Multimodal`) and the
    * session memo of staged artifacts (s5 stages the brute-force truth,
    * the IVF model and its index). The relational `q` rows and the
    * transcript `p` rows are left out: they exercise Catalyst built-ins and
    * the route pipeline that `route_noop` measures. So are the slowest
    * operator rows (d3/d4/d8-d11, s2/s3/s6-s13: 1-12 s each): all 59 rows
    * take about a minute and a half per pass on 4 cores. `l1_log_events` writes its
    * fixture to a fixed path outside the working directory, so its place
    * is taken by the `l` row: the same `LogFiles` split path over the
    * benchmark's own seeded logs ([[RawLogs]]), checked against the
    * wholetext path.
    */
  val Rows: Seq[String] = Bench.HeadlineQueries
    .filter(Set("d1_exact_dedup", "s1_knn_brute", "s5_ivf_recall",
      "t1_quality", "t4_fingerprint", "m1_multimodal_features", "l1_log_events"))
    .map(n => if (n == "l1_log_events") LogRow else n)

  /** Query families by name prefix: Dedup, Similarity, TextAnalysis,
    * Multimodal, LogFiles.
    */
  val Families: Seq[String] = Seq("d", "s", "t", "m", "l")

  def tablesDir(sf: Double): String = s"sf$sf"

  /** Layers this workload does not measure: the route pipeline's prefixes. */
  val IdleLayers: Seq[String] = Seq(
    "pipeline.scan_s", "functions.parse_s", "functions.parse_turns_per_core_s", "pipeline.enrich_s",
    "pipeline.route.shuffle_s", "pipeline.route.shuffle_write_bytes", "pipeline.route.task_skew",
    "pipeline.sink.write_s", "pipeline.sink.files", "pipeline.sink.bytes",
    "pipeline.aggregate.per_tool_s", "pipeline.aggregate.per_conv_s", "pipeline.parse_passes")

  /** Order-insensitive digest of a result: each row rendered with doubles
    * at 9 significant digits (so summation order cannot change it), the
    * renderings sorted and hashed.
    */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    rows.length + ":" + md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
