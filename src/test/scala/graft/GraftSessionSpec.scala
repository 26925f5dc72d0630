package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The production session factory must deliver the documented posture.
  * [[SparkTestSession]] builds the suite-wide session THROUGH
  * [[GraftSession.local]], so every spec in the suite runs on the
  * factory's product; this spec asserts the posture landed. (No
  * session is created or stopped here — `getOrCreate` on a live shared
  * session would alias it and `stop()` would kill it for every
  * following spec.)
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  // the builder's options are not public API; read them reflectively
  private def clusterOptions: scala.collection.Map[String, String] = {
    val b = GraftSession.builder("x", 4)
    b.getClass.getMethod("options").invoke(b).asInstanceOf[scala.collection.Map[String, String]]
  }

  test("factory session carries the full documented posture") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == (256L * 1024 * 1024).toString)
  }

  test("local session writes streaming checkpoints through the FileSystem API; the cluster builder does not") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val manager = classOf[FileSystemBasedCheckpointFileManager]
    assert(spark.conf.get(key) == manager.getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-checkpoint-manager")
    val created = CheckpointFileManager.create(new Path(dir.toString), spark.sessionState.newHadoopConf())
    assert(manager.isInstance(created), s"local session created ${created.getClass.getName}")
    val cluster = clusterOptions
    assert(cluster.contains("spark.sql.adaptive.enabled"), s"builder options unread: $cluster")
    assert(!cluster.contains(key), s"cluster builder pins $key: $cluster")
  }

  test("local session sets file modes in-process through its own file: FileSystem; the cluster builder does not") {
    val key = "spark.hadoop.fs.file.impl"
    val graftFs = classOf[GraftLocalFileSystem]
    val hconf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("graft-local-fs")
    // Hadoop caches FileSystems by scheme, not by conf: a file: FileSystem
    // built before the session would keep Hadoop's class here
    val fs = new Path(dir.toString).getFileSystem(hconf)
    assert(graftFs.isInstance(fs), s"file: resolves to ${fs.getClass.getName}")
    assert(graftFs.isInstance(FileSystem.getLocal(hconf)))
    def mode(p: java.nio.file.Path) =
      java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    val file = dir.resolve("created")
    fs.create(new Path(file.toString)).close()
    val want = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(hconf))
    assert(mode(file) == want.toShort, f"created with ${mode(file)}%o, want ${want.toShort}%o")
    // the sticky bit has no PosixFilePermission: Hadoop's own method sets it
    val sub = dir.resolve("sticky")
    java.nio.file.Files.createDirectory(sub)
    fs.setPermission(new Path(sub.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(sub) == Integer.parseInt("1777", 8), f"sticky dir has ${mode(sub)}%o")
    val cluster = clusterOptions
    assert(cluster.contains("spark.sql.adaptive.enabled"), s"builder options unread: $cluster")
    assert(!cluster.contains(key), s"cluster builder pins $key: $cluster")
  }

  test("native expression family resolves through plain SQL — no register call") {
    val d = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    assert(
      spark.sql("SELECT simhash64(array(1L, 2L, 3L)) AS h").head().getLong(0) ==
        spark.sql("SELECT simhash64(array(3L, 2L, 1L)) AS h").head().getLong(0),
      "simhash must be order-invariant")
  }

  test("nonsensical shuffle width fails at construction, not at runtime") {
    intercept[IllegalArgumentException] {
      GraftSession.builder("bad", shufflePartitions = 0)
    }
  }

  test("ANSI mode is on: bad arithmetic throws, try_* is the soft path") {
    import SparkTestSession.spark
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "the q_try_funcs battery is meaningless without ANSI strictness")
    val ex = intercept[Exception] {
      spark.sql("SELECT 1 / 0").collect()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"), s"wrong failure: $ex")
    assert(spark.sql("SELECT try_divide(1, 0) AS v").head().isNullAt(0))
  }
}
