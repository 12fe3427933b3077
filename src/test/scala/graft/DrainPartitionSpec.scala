package graft.streaming

import graft.GraftSession
import graft.ops.Rounds
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

/** A drain's shuffle (= state-store) partitions come from its source's
  * size ([[Rounds.partitionsFor]] through [[EventStream.partitionScope]]),
  * not from a fixed count.
  */
class DrainPartitionSpec extends AnyFunSuite with graft.SparkSuite {

  private val advisory = 64L << 20

  private def statePartitions(q: StreamingQuery): Set[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq).map(_.numShufflePartitions).toSet

  test("partitionsFor: ceil(bytes / advisory), clamped to [1, cap]") {
    assert(Rounds.partitionsFor(0L, advisory, 32) == 1)
    assert(Rounds.partitionsFor(advisory, advisory, 32) == 1)
    assert(Rounds.partitionsFor(advisory + 1, advisory, 32) == 2)
    assert(Rounds.partitionsFor(Long.MaxValue, advisory, 32) == 32)
  }

  test("partitionsFor under a session reads the advisory size and caps at the session's count") {
    GraftSession.withConf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1000",
        "spark.sql.shuffle.partitions" -> "5") {
      assert(Rounds.partitionsFor(spark, 2500L) == 3)
      assert(Rounds.partitionsFor(spark, 1L << 40) == 5)
    }
  }

  test("stream_sessionize's drain at sf0.001 runs its state on one partition") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt > 1)
    val (rows, q) = StreamOps.sessionizeDrain(spark, sfDir, rocksDb = false)
    assert(rows.count() > 0)
    assert(statePartitions(q) == Set(1L))
  }

  test("a drain over a non-file source (MemoryStream) keeps the session's count") {
    import spark.implicits._
    val input = MemoryStream[Long](spark)
    input.addData(1L, 2L, 3L, 1L)
    val df = input.toDF().groupBy("value").count()
    assert(EventStream.sourceBytes(df).isEmpty)
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "3") {
      val (rows, q) = EventStream.drain(df, OutputMode.Complete())
      assert(rows.count() == 3)
      assert(statePartitions(q) == Set(3L))
    }
  }
}
