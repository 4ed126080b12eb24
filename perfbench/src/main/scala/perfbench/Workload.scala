package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, one timed job, its check, and a
  * traced variant of the job that records per-layer numbers.
  */
trait Workload {
  type Result

  /** Generates the inputs into the directory `dir`, which holds only what
    * the launcher generated for the seed, and writes the expected results,
    * computed through an independent path, to `Workload.expectedFile(dir)`.
    * Runs in its own JVM, before the measured one.
    */
  def stage(spark: SparkSession, dir: Path, seed: Long): Unit

  /** Reads the inputs' location and expected results from a staged `dir`. */
  def load(dir: Path): Unit

  /** The warm-up that ends set-up: the job once, untimed, on its own or on a small input. */
  def warmup(spark: SparkSession): Unit

  /** The timed operation. */
  def job(spark: SparkSession, i: Int): Result

  /** Checks `r` against the expected results, untimed: (operations
    * attempted, operations that failed or returned a wrong result).
    */
  def check(r: Result): (Int, Int)

  /** One final correctness check per run that is too costly per job. */
  def finalCheck(spark: SparkSession): Boolean = true

  /** The workload's own figures for one job that took `r`, printed beside
    * the end-to-end metrics: (name, value, unit).
    */
  def named(r: Result, seconds: Double): Seq[(String, Double, String)]

  /** Texts the single-thread lexer probe tokenizes. */
  def lexerSample(spark: SparkSession): Array[String]

  /** One traced iteration: runs the job untraced and traced, then the
    * per-layer calls; appends samples to `layers`. Returns (attempted, failed).
    */
  def traced(spark: SparkSession, tr: Tracer, lc: StageCounters, i: Int,
             layers: Layers): (Int, Int)
}

/** Per-layer samples by metric name; the launcher reports their medians. */
final class Layers {
  val samples: mutable.LinkedHashMap[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def add(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
}

object Workload {
  def expectedFile(dir: Path): Path = dir.resolve("expected.txt")

  def writeExpected(dir: Path, lines: Seq[String]): Unit =
    java.nio.file.Files.write(expectedFile(dir),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def readExpected(dir: Path): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(expectedFile(dir)), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Sum of the heap pools' peak usage since the last call, in MB. */
  def takeHeapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val mb = pools.map(_.getPeakUsage.getUsed).sum / 1e6
    pools.foreach(_.resetPeakUsage())
    mb
  }

  /** Regular files under `dir` whose name ends with `suffix`: (count, bytes). */
  def filesUnder(dir: Path, suffix: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(dir)
    try {
      val fs = s.iterator.asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .map(java.nio.file.Files.size).toSeq
      (fs.length.toLong, fs.sum)
    } finally s.close()
  }
}
