package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle of staged artifacts: operator staging directories (the
  * multi-job dedup/ANN paths write an intermediate parquet once so
  * downstream plan branches read the slim staged table instead of
  * recomputing the upstream scan per branch) and the process's one
  * get-or-build artifact store ([[artifact]]) that shares staged frames,
  * index directories and trained models between the queries that need them.
  */
object Staging {

  /** A store entry: empty until its build returns. Its monitor serializes
    * the builds of one key.
    */
  private final class Slot { var value: AnyRef = _ }

  // SparkSession keeps reference equality, so a session is its own key:
  // `spark.newSession()` gets fresh artifacts.
  private val artifacts = new ConcurrentHashMap[(SparkSession, String), Slot]()

  /** The artifact stored under (`spark`, `key`), built by `build` on first
    * use. The map only hands out the key's slot; the build runs under the
    * slot's monitor, outside the map's own compute, so a build may ask the
    * store for another key (an index whose build needs a trained model),
    * and concurrent callers of one key build it once. A build that throws
    * stores nothing: the next call builds again. Entries live as long as
    * the process, like the temp dirs they usually name.
    */
  def artifact[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val slot = artifacts.computeIfAbsent((spark, key), _ => new Slot)
    slot.synchronized {
      if (slot.value == null) slot.value = build
      slot.value.asInstanceOf[T]
    }
  }

  /** [[artifact]] derived from a corpus frame: keyed by its session, `name`
    * and the semantic hash of its analyzed plan. Keying on the files alone
    * would serve a stale artifact to a caller passing a different frame
    * over the same dir.
    */
  def corpusArtifact[T <: AnyRef](name: String, corpus: DataFrame)(build: => T): T =
    artifact(corpus.sparkSession,
      s"$name:${corpus.queryExecution.analyzed.semanticHash()}")(build)

  /** A [[corpusArtifact]] directory: `write` fills a fresh temp dir (removed
    * at JVM exit) once per key, and every call returns its path.
    */
  def corpusDir(name: String, corpus: DataFrame)(write: String => Unit): String =
    corpusArtifact(name, corpus) {
      val d = tempDirDeletedOnExit(s"graft-$name")
      write(d)
      d
    }

  def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toAbsolutePath.toString

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  /** A unique temp dir removed at JVM exit — for driver-style callers that
    * consume the staged frame within the process lifetime (Verify/Bench).
    * Long-running services should delete explicitly after the last action
    * over the returned frame instead. ONE shutdown hook drains a shared
    * queue: registering a hook per dir would grow the JVM's hook list (and
    * its identity map) without bound in a loop that stages repeatedly.
    */
  def tempDirDeletedOnExit(prefix: String): String = {
    val d = tempDir(prefix)
    exitDirs.add(d)
    d
  }

  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var d = exitDirs.poll()
    while (d != null) {
      try deleteRecursively(d) catch { case _: Exception => () }
      d = exitDirs.poll()
    }
  }))
}
