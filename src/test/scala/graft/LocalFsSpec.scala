package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The session's `file:` system sets permissions in the JVM
  * ([[graft.sources.ForkFreeLocalFileSystem]]) and must leave every
  * path with the POSIX mode Hadoop's stock `LocalFileSystem` gives it.
  */
class LocalFsSpec extends AnyFunSuite with SparkSuite {

  // a umask no process default gives: a setPermission that did nothing
  // would leave the JVM's own create modes and fail the comparisons
  private val umask = "fs.permissions.umask-mode" -> "027"

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Every path under `root` (itself included) → its mode bits
    * (permissions, sticky, setuid/setgid), with part-file UUIDs masked.
    */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.map { p =>
      r.relativize(p).toString.replaceAll(uuid, "U") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  /** A fresh, uncached instance of `cls` under the umask above. */
  private def fresh(cls: Class[_ <: FileSystem]): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(umask._1, umask._2)
    val fs = cls.getDeclaredConstructor().newInstance()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def withDirs[T](body: (String, String) => T): T = {
    val (a, b) = (sources.SourceOps.tmpDir("graft_localfs_a"), sources.SourceOps.tmpDir("graft_localfs_b"))
    try body(a, b)
    finally { ops.Dedup.deleteDirQuietly(a); ops.Dedup.deleteDirQuietly(b) }
  }

  test("the session's file: system is graft's, from the context and the session conf") {
    val fromContext = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val fromSession = new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf())
    assert(fromContext.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fromSession.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fromContext.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
  }

  test("a parquet write gives every path the stock LocalFileSystem's mode") {
    withDirs { (base, stockBase) =>
      val graftOpts = Map(umask, "fs.file.impl.disable.cache" -> "true")
      val stockOpts = graftOpts + ("fs.file.impl" -> classOf[LocalFileSystem].getName)
      val (out, stockOut) = (s"$base/t", s"$stockBase/t")
      for ((dir, opts, cls) <- Seq((out, graftOpts, classOf[ForkFreeLocalFileSystem]),
          (stockOut, stockOpts, classOf[LocalFileSystem]))) {
        assert(new Path(dir).getFileSystem(spark.sessionState.newHadoopConfWithOptions(opts))
          .getClass == cls)
        spark.range(0, 40).selectExpr("id", "id % 3 AS k").repartition(2)
          .write.options(opts).partitionBy("k").parquet(dir)
      }
      val (got, want) = (modes(out), modes(stockOut))
      // part files, their .crc sidecars, _SUCCESS and the k=… dirs
      assert(got.keys.exists(_.endsWith(".parquet")) && got.keys.exists(_.endsWith(".crc")))
      assert(got.contains("_SUCCESS") && got.contains("k=2"))
      assert(got == want)
      assert(got("k=2") == 0x1e8 && got("_SUCCESS") == 0x1a0) // 0750, 0640: the umask applied
    }
  }

  test("mkdirs and create give the stock LocalFileSystem's modes") {
    withDirs { (a, b) =>
      for ((fs, root) <- Seq((fresh(classOf[ForkFreeLocalFileSystem]), a),
          (fresh(classOf[LocalFileSystem]), b))) {
        assert(fs.mkdirs(new Path(s"$root/x/y/z")))
        assert(fs.mkdirs(new Path(s"$root/w"), new FsPermission(0x1c0.toShort))) // 0700
        fs.create(new Path(s"$root/x/y/f.bin")).close()
      }
      assert(modes(a) == modes(b))
      assert(modes(a)("x/y/f.bin") == 0x1a0 && modes(a)("w") == 0x1c0)
    }
  }

  test("a mode with the sticky bit still gives the stock result") {
    withDirs { (a, b) =>
      val sticky = new FsPermission(0x3ed.toShort) // 01755
      for ((fs, root) <- Seq((fresh(classOf[ForkFreeLocalFileSystem]), a),
          (fresh(classOf[LocalFileSystem]), b))) {
        assert(fs.mkdirs(new Path(s"$root/d")))
        fs.setPermission(new Path(s"$root/d"), sticky)
      }
      assert(modes(a)("d") == 0x3ed)
      assert(modes(a) == modes(b))
    }
  }

  test("setPermission on a missing path throws an IOException") {
    withDirs { (a, _) =>
      val fs = fresh(classOf[ForkFreeLocalFileSystem])
      intercept[java.io.IOException] {
        fs.setPermission(new Path(s"$a/missing"), new FsPermission(0x1ed.toShort))
      }
    }
  }
}
