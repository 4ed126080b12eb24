package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The artifact store: one build per (session, key), a new session builds
  * again, corpus keys follow the plan, nested builds and failed builds.
  */
class StagingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .appName("staging-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A build that counts its runs and returns a fresh object each time. */
  private final class Counted {
    val runs = new AtomicInteger()
    def build(): AnyRef = { runs.incrementAndGet(); new Object }
  }

  test("one session and key build once and return the same artifact") {
    val c = new Counted
    val a = Staging.artifact(spark, "spec-once")(c.build())
    val b = Staging.artifact(spark, "spec-once")(c.build())
    assert(a eq b)
    assert(c.runs.get == 1)
  }

  test("a new session builds again") {
    val c = new Counted
    val a = Staging.artifact(spark, "spec-session")(c.build())
    val other = spark.newSession()
    val b = Staging.artifact(other, "spec-session")(c.build())
    assert(!(a eq b))
    assert(c.runs.get == 2)
    assert(Staging.artifact(other, "spec-session")(c.build()) eq b)
    assert(c.runs.get == 2)
  }

  test("corpus plans with different semantic hashes do not collide") {
    val c = new Counted
    val small = Staging.corpusArtifact("spec-corpus", spark.range(10).toDF())(c.build())
    val large = Staging.corpusArtifact("spec-corpus", spark.range(20).toDF())(c.build())
    assert(!(small eq large))
    assert(c.runs.get == 2)
    // an equal plan built anew is the same corpus
    assert(Staging.corpusArtifact("spec-corpus", spark.range(10).toDF())(c.build()) eq small)
    assert(c.runs.get == 2)
  }

  test("a build may ask the store for another key") {
    val model = new Counted
    val index = new Counted
    def stagedModel() = Staging.artifact(spark, "spec-model")(model.build())
    val built = Staging.artifact(spark, "spec-index") {
      index.build()
      Seq(stagedModel())
    }
    assert(built.head eq stagedModel())
    assert(Staging.artifact(spark, "spec-index")(index.build()) eq built)
    assert(model.runs.get == 1 && index.runs.get == 1)
  }

  test("a build that throws stores nothing, and the next call builds again") {
    val c = new Counted
    val e = intercept[IllegalStateException] {
      Staging.artifact[AnyRef](spark, "spec-retry") { c.build(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    val a = Staging.artifact(spark, "spec-retry")(c.build())
    assert(Staging.artifact(spark, "spec-retry")(c.build()) eq a)
    assert(c.runs.get == 2)
  }
}
