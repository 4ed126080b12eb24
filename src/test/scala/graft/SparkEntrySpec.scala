package graft

import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Driver queries on hand-made tables, for cases the sf tables never hit. */
class SparkEntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .appName("sparkentry-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("q11 splits sessions on a gap of 1800.5 s, as its oracle's epoch() does") {
    import spark.implicits._
    val dir = graft.pipeline.Staging.tempDirDeletedOnExit("graft-q11-spec")
    // TIMESTAMP_NTZ, the type of the sf tables' events.ts
    Seq((1L, 7L, LocalDateTime.parse("2024-01-01T00:00:00")),
        (2L, 7L, LocalDateTime.parse("2024-01-01T00:30:00.5")))
      .toDF("event_id", "user_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q11_sessionize")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_sessions") == 2L)
    assert(r.head.getAs[Long]("max_len") == 1L)
  }
}
