package graft

import java.io.{File, RandomAccessFile}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.ChecksumException
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Drain checkpoints run on [[EventStream.DrainCheckpointManager]]
  * without giving up either checksum, fail a corrupted restart as
  * Spark's default manager does, and leave the session's manager conf
  * as they found it.
  */
class DrainCheckpointSpec extends AnyFunSuite with SparkSuite {

  private val ManagerKey = EventStream.DrainCheckpointManager._1

  /** Append one parquet file to `src`: one event per user at each of
    * `bases` (seconds).
    */
  private def appendEvents(src: String, users: Int, bases: Long*): Unit = {
    import spark.implicits._
    (for (b <- bases; u <- 0 until users) yield
      EventStream.Event(b + u, new java.sql.Timestamp((b + u) * 1000L), u.toLong, "e", 1.0))
      .toDS().repartition(1).write.mode("append").parquet(src)
  }

  /** Drain the stateful sessionizer over `src` once, with 8 state
    * partitions, into a parquet sink at `ckpt/out` with its checkpoint
    * at `ckpt/query` (a memory sink cannot restart from a checkpoint).
    */
  private def drainOnce(src: String, ckpt: String): Unit = {
    import spark.implicits._
    val schema = spark.read.parquet(src).schema
    val sessions = EventStream.closedSessions(
      spark.readStream.schema(schema).parquet(src).as[EventStream.Event])
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      EventStream.awaitAvailableNow(sessions.writeStream.format("parquet")
        .option("path", s"$ckpt/out").option("checkpointLocation", s"$ckpt/query"))
    }
  }

  private def sinkRows(ckpt: String): Seq[EventStream.ClosedSession] = {
    import spark.implicits._
    spark.read.parquet(s"$ckpt/out").as[EventStream.ClosedSession].collect().toSeq
      .sortBy(c => (c.user_id, c.session_start))
  }

  private def stateDirs(ckpt: String): Seq[File] =
    new File(ckpt, "query/state/0").listFiles()
      .filter(d => d.isDirectory && d.getName.forall(_.isDigit)).sortBy(_.getName).toSeq

  /** How a restart ended: the error conditions down the failure's
    * cause chain and whether a checksum caught the corruption (None if
    * it succeeded), and the sessions the sink holds afterwards.
    */
  private final case class Restart(failure: Option[(Seq[String], Boolean)],
      sink: Seq[EventStream.ClosedSession])

  /** Drain once, overwrite 8 bytes in the middle of the largest
    * `1.delta`, land new data and drain again on the same checkpoint.
    */
  private def corruptedRestart(ckpt: String): Restart = {
    val src = graft.sources.SourceOps.tmpDir("graft_ckpt_spec_src")
    try {
      appendEvents(src, users = 40, 0L, 10000L) // closes one session per user, opens another
      drainOnce(src, ckpt)
      val delta = stateDirs(ckpt).map(new File(_, "1.delta")).maxBy(_.length)
      val raf = new RandomAccessFile(delta, "rw")
      try {
        raf.seek(delta.length / 2)
        raf.write(Array.fill[Byte](8)(0x5a))
      } finally raf.close()
      appendEvents(src, users = 40, 100000L) // closes the open sessions
      val failure = Try(drainOnce(src, ckpt)) match {
        case Success(_) => None
        case Failure(e) =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
          val checksum = chain.exists {
            case _: ChecksumException => true
            case t: SparkThrowable => t.getCondition == "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"
            case _ => false
          }
          // the innermost cause names the checksum layer that caught
          // the corruption first, which differs between the managers
          val conditions = chain.collect { case t: SparkThrowable => t.getCondition }
            .filterNot(_ == "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED")
          Some((conditions, checksum))
      }
      Restart(failure, sinkRows(ckpt))
    } finally graft.ops.Dedup.deleteDirQuietly(src)
  }

  test("a stateful drain's state dirs hold Spark's checksum file and Hadoop's .crc") {
    val src = graft.sources.SourceOps.tmpDir("graft_ckpt_spec_src")
    try {
      appendEvents(src, users = 40, 0L)
      EventStream.withCheckpoint(spark) { ckpt =>
        assert(spark.conf.get(ManagerKey) == EventStream.DrainCheckpointManager._2)
        drainOnce(src, ckpt)
        val dirs = stateDirs(ckpt)
        assert(dirs.size == 8)
        for (d <- dirs) {
          val names = d.list().toSet
          assert(Set("1.delta", "1.delta.crc", ".1.delta.crc").subsetOf(names),
            s"${d.getName}: ${names.toSeq.sorted}")
        }
      }
    } finally graft.ops.Dedup.deleteDirQuietly(src)
  }

  test("a corrupted state delta fails the restart as under Spark's default manager") {
    val default = {
      val ckpt = graft.sources.SourceOps.tmpDir("graft_ckpt_spec_default")
      try {
        assert(spark.conf.getOption(ManagerKey).isEmpty)
        corruptedRestart(ckpt)
      } finally graft.ops.Dedup.deleteDirQuietly(ckpt)
    }
    val drain = EventStream.withCheckpoint(spark)(corruptedRestart)
    assert(default.failure.exists(_._2),
      s"default manager: restart not failed by a checksum: ${default.failure}")
    assert(default.sink.size == 40) // the first run's sessions, nothing from the restart
    assert(drain == default)
    info(s"both restarts: ${default.failure}")
  }

  test("after a drain returns the manager conf is unset again, or back to its prior value") {
    import spark.implicits._
    val src = graft.sources.SourceOps.tmpDir("graft_ckpt_spec_src")
    def drainStateful(): Unit = {
      val (rows, _) = EventStream.drain(
        EventStream.runningUserAgg(spark.readStream
          .schema(spark.read.parquet(src).schema).parquet(src).as[EventStream.Event]).toDF(),
        OutputMode.Update())
      assert(rows.count() == 10)
    }
    try {
      appendEvents(src, users = 10, 0L)
      assert(spark.conf.getOption(ManagerKey).isEmpty)
      drainStateful()
      assert(spark.conf.getOption(ManagerKey).isEmpty)
      val prior = "org.apache.spark.sql.execution.streaming.checkpointing" +
        ".FileContextBasedCheckpointFileManager"
      spark.conf.set(ManagerKey, prior)
      try {
        drainStateful()
        assert(spark.conf.getOption(ManagerKey).contains(prior))
      } finally spark.conf.unset(ManagerKey)
    } finally graft.ops.Dedup.deleteDirQuietly(src)
  }
}
