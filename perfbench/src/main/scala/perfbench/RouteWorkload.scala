package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.datagen.SyntheticTranscripts
import graft.lexer.PatternBank
import graft.pipeline.{Aggregate, Category, Enrich, Parse, Route, RunPipeline, Staging, Turn}
import graft.schema.SchemaConfig

/** `RunPipeline.run(..., sinkMode = "noop")` over seeded synthetic
  * transcripts (default skew) staged as parquet: the route pass and both
  * aggregates without the disk.
  */
final class RouteWorkload(nConvs: Long, work: Path, cores: Int) extends Workload {
  type Result = RunPipeline.Result

  private var dir: Path = _
  private var expectedCounts: Map[String, Long] = Map.empty
  private var expectedConvs = 0L
  private var expectedTools = 0L
  private var expectedTurns = 0L
  private var outSeq = 0

  private def turns(spark: SparkSession, name: String = "turns"): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir.resolve(name).toString).as[Turn]
  }

  private def freshOut(): Path = {
    outSeq += 1
    work.resolve("out").resolve(s"route-${ProcessHandle.current.pid}-$outSeq")
  }

  def stage(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.dir = dir
    // a fixed file count, so the scan's split count does not depend on staging
    SyntheticTranscripts.generate(spark, nConvs, seed).repartition(32)
      .write.parquet(dir.resolve("turns").toString)
    SyntheticTranscripts.generate(spark, math.max(100L, nConvs / 20), seed + 1).repartition(32)
      .write.parquet(dir.resolve("warm").toString)

    // Expected per-sink counts from the typed `Parse.apply` path, which is
    // coded independently of the `Parse.expr` expression the job runs.
    import spark.implicits._
    val t = turns(spark)
    val bank = Parse.broadcastBank(spark, PatternBank.compile(SchemaConfig.example))
    val counts = Parse(t, bank).groupBy("category").count().as[(String, Long)].collect().toMap
    val r = t.agg(countDistinct("conv_id"), countDistinct("tool"), count(lit(1))).head()
    Workload.writeExpected(dir, Category.All.map(c => s"sink.$c=${counts.getOrElse(c, 0L)}") ++
      Seq(s"convs=${r.getLong(0)}", s"tools=${r.getLong(1)}", s"turns=${r.getLong(2)}"))
  }

  def load(dir: Path): Unit = {
    this.dir = dir
    val kv = Workload.readExpected(dir).map { l => val Array(k, v) = l.split("="); k -> v.toLong }.toMap
    expectedCounts = Category.All.map(c => c -> kv(s"sink.$c")).toMap
    expectedConvs = kv("convs")
    expectedTools = kv("tools")
    expectedTurns = kv("turns")
  }

  /** The job on the small warm-up input, repeated: the driver-side planning
    * code runs a few times per job and needs several jobs before the JIT has
    * compiled it, while the per-turn code is hot within the first.
    */
  def warmup(spark: SparkSession): Unit =
    (1 to RouteWorkload.WarmupJobs).foreach { _ =>
      RunPipeline.run(spark, turns(spark, "warm"), freshOut().toString, fingerprint = "warmup",
        sinkMode = "noop")
    }

  def job(spark: SparkSession, i: Int): Result =
    RunPipeline.run(spark, turns(spark), freshOut().toString, fingerprint = s"perfbench-$i",
      sinkMode = "noop")

  private def correct(r: Result): Boolean =
    r.routedCounts == expectedCounts && r.routedCounts.values.sum == expectedTurns &&
      r.turnsIn == expectedTurns && r.nConversations == expectedConvs && r.nTools == expectedTools

  def check(r: Result): (Int, Int) = (1, if (correct(r)) 0 else 1)

  def named(r: Result, seconds: Double): Seq[(String, Double, String)] =
    Seq(("pipeline_turns_per_s", expectedTurns / seconds, "turns/s"))

  def lexerSample(spark: SparkSession): Array[String] = {
    import spark.implicits._
    turns(spark).select("text").as[String].limit(50000).collect()
  }

  def traced(spark: SparkSession, tr: Tracer, lc: StageCounters, i: Int,
             layers: Layers): (Int, Int) = {
    val sc = spark.sparkContext
    var failed = 0

    // The traced job runs between two untraced ones; its overhead is
    // measured against their mean, so JIT warm-up does not read as overhead.
    def untraced(): Double = {
      sc.removeSparkListener(lc)
      val (plain, s) = Workload.timed(job(spark, i))
      if (!correct(plain)) failed += 1
      sc.addSparkListener(lc)
      s
    }
    val before = untraced()
    lc.reset()
    Workload.takeHeapPeakMb()
    val (traced, tracedS) = tr.span("pipeline.RunPipeline.run")(lc.tagged(sc, "run")(job(spark, i)))
    layers.add("jvm.peak_heap_mb", Workload.takeHeapPeakMb())
    if (!correct(traced)) failed += 1
    layers.add("trace.overhead_s", tracedS - (before + untraced()) / 2)
    val run = lc.totalsOf(sc, "run")
    layers.add("spark.cpu_s", run.cpuNs / 1e9)
    layers.add("spark.gc_s", run.gcMs / 1e3)
    layers.add("spark.shuffle_write_bytes", run.shuffleWriteBytes.toDouble)
    layers.add("spark.tasks", run.tasks.toDouble)
    layers.add("pipeline.parse_passes", run.recordsRead.toDouble / expectedTurns)

    // Prefix actions over the plan the job runs (scan, salted repartition,
    // parse, enrich, sink): each adds one layer to the previous one, so a
    // layer's self time is its prefix's wall minus the previous prefix's.
    // The noop prefixes are short, so each runs twice and keeps its faster
    // wall; the listener counts the first run only.
    val bank = PatternBank.compile(SchemaConfig.example)
    val dimTool = SyntheticTranscripts.dimTool(spark)
    val dimRole = SyntheticTranscripts.dimRole(spark)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scan = turns(spark).toDF()
    val salted = Route.salted(scan, partitions)
    val parsed = Parse.expr(salted, bank)
    val enriched = Enrich(parsed, dimTool, dimRole)
    def noop(tag: String, df: DataFrame): Double =
      Seq(tag, "repeat").map(t => Workload.timed(lc.tagged(sc, t)(df.write.format("noop").mode("overwrite").save()))._2).min

    tr.span("pipeline.prefixes") {
      val scanS = tr.span("pipeline.scan")(noop("scan", scan))._1
      val shuffleS = tr.span("pipeline.route.shuffle")(noop("shuffle", salted))._1
      val parseS = tr.span("functions.parse")(noop("parse", parsed))._1
      val enrichS = tr.span("pipeline.enrich")(noop("enrich", enriched))._1
      // the durable sink the noop job skips: partitioned parquet into a fresh directory
      val out = freshOut()
      val (_, sinkS) = tr.span("pipeline.sink.write")(
        lc.tagged(sc, "sink")(Route.writePartitioned(enriched, out.toString, Category.All)))
      val (files, bytes) = Workload.filesUnder(out, ".parquet")
      Staging.deleteRecursively(out.toString)
      layers.add("pipeline.scan_s", scanS)
      layers.add("pipeline.route.shuffle_s", shuffleS - scanS)
      layers.add("pipeline.route.shuffle_write_bytes",
        lc.totalsOf(sc, "shuffle").shuffleWriteBytes.toDouble)
      layers.add("pipeline.route.task_skew", lc.postExchangeSkew(sc, "shuffle"))
      layers.add("functions.parse_s", parseS - shuffleS)
      layers.add("functions.parse_turns_per_core_s", expectedTurns / ((parseS - shuffleS) * cores))
      layers.add("pipeline.enrich_s", enrichS - parseS)
      layers.add("pipeline.sink.write_s", sinkS - enrichS)
      layers.add("pipeline.sink.files", files.toDouble)
      layers.add("pipeline.sink.bytes", bytes.toDouble)
    }
    // the source the noop job's aggregates read: the re-parsed turns
    val (_, perToolS) = tr.span("pipeline.aggregate.per_tool")(Aggregate.perTool(enriched).count())
    val (_, perConvS) = tr.span("pipeline.aggregate.per_conv")(Aggregate.perConversation(enriched).count())
    layers.add("pipeline.aggregate.per_tool_s", perToolS)
    layers.add("pipeline.aggregate.per_conv_s", perConvS)
    RouteWorkload.IdleLayers.foreach(layers.add(_, 0.0))
    (3, failed)
  }
}

object RouteWorkload {
  val WarmupJobs = 5

  /** Layers this workload never calls: the raw-log source and the query surface. */
  val IdleLayers: Seq[String] =
    Seq("sources.chunk_index_s", "sources.parse_regions_s", "sources.chunks", "sources.events") ++
      QueriesWorkload.Families.map(f => s"sparkentry.${f}_s") :+ "sparkentry.first_touch_s"
}
