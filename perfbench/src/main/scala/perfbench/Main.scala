package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.lexer.{ByteTokenizer, PatternBank, Tokenizer}
import graft.pipeline.RunPipeline
import graft.schema.SchemaConfig

/** One phase of a benchmark run, each in its own JVM. `stage` generates the
  * seeded inputs and their expected results into the empty directory
  * `--stage`. `measure` sets up, runs the timed closed loop with one client
  * (or the traced loop), then prints one result line `PERFBENCH {json}` for
  * the launcher (`run.py`).
  *
  *   perfbench.Main --phase stage --workload W --size N --seed S --stage DIR --work DIR --cores C
  *   perfbench.Main --phase measure --workload W --size N --seed S --stage DIR --work DIR --cores C
  *                  --seconds T --trace 0|1
  */
object Main {
  /** Timed jobs per untraced run, at least: a `queries` pass can outlast
    * `--seconds`, and a median of one sample would carry all its noise.
    */
  val MinJobs = 2

  /** `size` is the input size the staging directory is keyed by:
    * conversations for `route_noop`, the tables' scale factor in
    * thousandths for `queries`.
    */
  def workload(name: String, size: Long, work: Path, cores: Int): Workload = name match {
    case "route_noop" => new RouteWorkload(size, work, cores)
    case "queries" => new QueriesWorkload(size / 1000.0, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def session(cores: Int): SparkSession = {
    val s = RunPipeline.sparkSession(cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val wl = workload(a("workload"), a("size").toLong, work, cores)
    val stageDir = Paths.get(a("stage")).toAbsolutePath
    if (a("phase") == "stage") {
      val spark = session(cores)
      try wl.stage(spark, stageDir, a("seed").toLong) finally spark.stop()
    } else measure(wl, stageDir, a("seconds").toDouble, a("trace") == "1", work, cores)
  }

  def measure(wl: Workload, stageDir: Path, seconds: Double, trace: Boolean, work: Path,
              cores: Int): Unit = {
    wl.load(stageDir)

    // Set-up: JVM and session start, bank compile and the warm-up, up to
    // the first timed job. Staging ran in the JVM before this one.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val (bank, compileS) = Workload.timed(PatternBank.compile(SchemaConfig.example))
    wl.warmup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    var attempted = 0
    var failed = 0
    def count(af: (Int, Int)): Unit = { attempted += af._1; failed += af._2 }
    val jobS = ArrayBuffer.empty[Double]
    val jobCpuS = ArrayBuffer.empty[Double]
    val named = new Layers
    val layers = new Layers
    val tracer = new Tracer
    val counters = new StageCounters
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    do {
      if (trace) {
        tracer.run = s"${stageDir.getFileName}-$i"
        count(wl.traced(spark, tracer, counters, i, layers))
      } else {
        val cpu0 = processCpuNs()
        val (r, s) = Workload.timed(wl.job(spark, i))
        jobCpuS += (processCpuNs() - cpu0) / 1e9
        jobS += s
        count(wl.check(r))
        wl.named(r, s).foreach { case (n, v, unit) => named.add(s"$n $unit", v) }
      }
      i += 1
    } while (System.nanoTime() < deadline || (!trace && jobS.length < MinJobs))

    count((1, if (wl.finalCheck(spark)) 0 else 1))

    if (trace) {
      layers.add("schema.bank_compile_s", compileS)
      layers.add("automata.ts_states", bank.tsDfa.numStates)
      layers.add("automata.var_states", bank.varDfa.numStates)
      val (byteMbS, byteMtokS, charMbS) = tracer.span("lexer")(lexerProbe(bank, wl.lexerSample(spark)))._1
      layers.add("lexer.byte_mb_per_s", byteMbS)
      layers.add("lexer.byte_mtok_per_s", byteMtokS)
      layers.add("lexer.char_mb_per_s", charMbS)
      tracer.write(work.resolve("traces").resolve(s"${stageDir.getFileName}-${ProcessHandle.current.pid}.jsonl"))
    }
    spark.stop()

    val (cpuProbeS, diskProbeS) = hostProbe(work)
    if (trace) {
      layers.add("host.cpu_probe_s", cpuProbeS)
      layers.add("host.disk_probe_s", diskProbeS)
    }
    println("PERFBENCH " + Json.obj(
      "attempted" -> attempted, "failed" -> failed,
      "setup_s" -> setupS, "job_s" -> jobS, "job_cpu_s" -> jobCpuS, "named" -> named.samples,
      "host" -> Map("cpu_probe_s" -> cpuProbeS, "disk_probe_s" -> diskProbeS),
      "layers" -> layers.samples))
  }

  /** CPU time of this JVM, all threads. Time the host's hypervisor takes
    * from the VM (steal) is not counted, unlike in a wall time.
    */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Single-thread lexer throughput over `texts`: byte lexer MB/s and
    * Mtok/s, char lexer MB/s. Each lexer runs whole passes for at least
    * half a second after one warm-up pass.
    */
  def lexerProbe(bank: PatternBank, texts: Array[String]): (Double, Double, Double) = {
    val bytes = texts.map(_.getBytes(StandardCharsets.UTF_8))
    val mb = bytes.map(_.length.toLong).sum / 1e6
    var tokens = 0L
    val counter = new ByteTokenizer.Sink {
      def token(tokenType: Byte, schemaId: Int, start: Int, end: Int, line: Int): Unit = tokens += 1
    }
    def passes(f: => Unit): (Int, Double) = {
      f
      var n = 0
      val t0 = System.nanoTime()
      var s = 0.0
      while (s < 0.5) { f; n += 1; s = (System.nanoTime() - t0) / 1e9 }
      (n, s)
    }
    val (bn, bs) = passes(bytes.foreach(ByteTokenizer.tokenize(bank, _, counter)))
    val tokensPerPass = tokens / (bn + 1)
    var sink = 0L
    val (cn, cs) = passes(texts.foreach(t => sink += Tokenizer.tokenize(bank, t).length))
    require(sink / (cn + 1) == tokensPerPass, "byte and char lexers disagree on the token count")
    (mb * bn / bs, tokensPerPass * bn / bs / 1e6, mb * cn / cs)
  }

  @volatile private var probeSink = 0L

  /** Host calibration: a fixed CPU loop and a fixed 4 MB fsync'd write. A
    * run whose probe is slow ran on a stalled host.
    */
  def hostProbe(work: Path): (Double, Double) = {
    val (_, cpuS) = Workload.timed {
      var x = 88172645463325252L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      probeSink = x
    }
    Files.createDirectories(work)
    val f = work.resolve(s"probe-${ProcessHandle.current.pid}.bin")
    val (_, diskS) = Workload.timed {
      val ch = FileChannel.open(f, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val buf = ByteBuffer.allocate(1 << 20)
        (0 until 4).foreach { _ => buf.clear(); while (buf.hasRemaining) ch.write(buf) }
        ch.force(true)
      } finally ch.close()
    }
    Files.deleteIfExists(f)
    (cpuS, diskS)
  }
}
