package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lexer.PatternBank
import graft.pipeline.Parse
import graft.schema.SchemaConfig
import graft.sources.LogFiles

/** Seeded multi-line hive-style `.log` files (written by
  * `perfbench/inputs.py` into `logs/` of a directory) read
  * through the within-file split path: `LogFiles.chunkIndex` →
  * `eventsFromIndex` → `eventStats`. The `queries` workload runs this as its
  * `l` row. A result is the sums over the `eventStats` rows: events, chars,
  * tokens, errors, timestamped events, and the sum of the per-event text CRCs.
  */
final class RawLogs(chunkBytes: Long) {
  private var dir: Path = _
  private var files: Seq[Path] = Nil

  private def logGlob: String = dir.resolve("logs").resolve("*.log").toString

  private def bank(spark: SparkSession): Broadcast[PatternBank] =
    Parse.broadcastBank(spark, PatternBank.compile(SchemaConfig.example))

  private def summary(stats: DataFrame): Seq[Long] = {
    val r = stats.agg(count(lit(1)), sum("n_chars"), sum("n_tokens"), sum("n_errors"),
      sum(col("has_timestamp").cast("long")), sum("text_crc")).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  def load(dir: Path): Unit = {
    this.dir = dir
    val s = Files.list(dir.resolve("logs"))
    try files = s.iterator.asScala.toSeq.sorted finally s.close()
  }

  def job(spark: SparkSession): Seq[Long] = {
    val b = bank(spark)
    summary(LogFiles.eventStats(LogFiles.eventsFromIndex(spark, LogFiles.chunkIndex(spark, logGlob, b, chunkBytes), b)))
  }

  /** Bytes of the measured files; the logs are ASCII, so also their chars. */
  def bytes: Long = files.map(Files.size).sum

  def megabytes: Double = bytes / 1e6

  /** Checks a result of the split path against the wholetext path
    * (`LogFiles.events`, one task per file), and the split path's
    * concatenated event texts against the file bytes.
    */
  def verify(spark: SparkSession, r: Seq[Long]): Boolean = {
    import spark.implicits._
    val b = bank(spark)
    val wholetext = summary(LogFiles.eventStats(LogFiles.events(spark, logGlob, b)))
    val events = LogFiles.eventsFromIndex(spark, LogFiles.chunkIndex(spark, logGlob, b, chunkBytes), b)
      .select(col("file"), col("event_idx"), col("text")).as[(String, Int, String)].collect()
    val byFile = events.groupBy(_._1)
    r == wholetext && r(1) == bytes && byFile.size == files.length && byFile.forall { case (file, evs) =>
      val text = evs.sortBy(_._2).iterator.map(_._3).mkString
      val path = java.nio.file.Paths.get(new java.net.URI(file))
      java.util.Arrays.equals(text.getBytes(StandardCharsets.UTF_8), Files.readAllBytes(path))
    }
  }

  def lexerSample: Array[String] = Array(new String(Files.readAllBytes(files.head), StandardCharsets.UTF_8))

  /** The job split into its two calls, each in a span; adds the
    * `sources.*` layers and returns the result.
    */
  def traced(spark: SparkSession, tr: Tracer, layers: Layers): Seq[Long] = {
    import spark.implicits._
    val b = bank(spark)
    val (idx, indexS) = tr.span("sources.chunk_index")(
      LogFiles.chunkIndex(spark, logGlob, b, chunkBytes).collect())
    val (r, regionsS) = tr.span("sources.parse_regions")(
      summary(LogFiles.eventStats(LogFiles.eventsFromIndex(spark, spark.createDataset(idx.toSeq), b))))
    layers.add("sources.chunk_index_s", indexS)
    layers.add("sources.parse_regions_s", regionsS)
    layers.add("sources.chunks", idx.length.toDouble)
    layers.add("sources.events", r.head.toDouble)
    r
  }
}
