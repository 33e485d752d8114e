package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.graft.GraftCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under a scheme of its own, with no
  * `AbstractFileSystem` binding: a non-`file` scheme for the spec. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("other:///")
  override def getScheme: String = "other"
}

class CheckpointFileManagerSpec extends AnyFunSuite {
  import SparkTest._

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def fixture(): (NioPath, GraftCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-ckpt")
    (dir, new GraftCheckpointFileManager(new Path(dir.toUri), spark.sessionState.newHadoopConf()))
  }
  private def names(dir: NioPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic then close publishes the content and leaves no temp file") {
    val (dir, m) = fixture()
    // into a directory that does not exist yet, as Hadoop's create does
    val target = new Path(new Path(dir.toUri), "offsets/0")
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!m.exists(target), "visible before close")
    out.close()
    assert(read(m, target) == "v1\n{}")
    assert(names(dir.resolve("offsets")) == Seq("0"))
    assert(m.list(target.getParent).map(_.getPath.getName).toSeq == Seq("0"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "1.delta")
    val out = m.createAtomic(target, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel, as with Spark's own streams
    assert(names(dir).isEmpty)
  }

  test("overwriteIfPossible = false on an existing file throws FileAlreadyExistsException") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "0")
    write(m, target, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, target, "second", overwrite = false)
    }
    assert(read(m, target) == "first")
    assert(names(dir) == Seq("0"))
  }

  test("overwrite replaces the content and removes a stale .crc sibling") {
    val (dir, m) = fixture()
    val target = new Path(new Path(dir.toUri), "1.delta")
    // written first by Spark's default manager, whose checksummed file
    // system leaves a `.1.delta.crc` beside the file
    val spark0 = new FileContextBasedCheckpointFileManager(target.getParent, new Configuration())
    write(spark0, target, "old content", overwrite = true)
    assert(names(dir) == Seq(".1.delta.crc", "1.delta"))
    write(m, target, "new", overwrite = true)
    assert(names(dir) == Seq("1.delta"))
    // a checksummed read (Spark's manager again) sees the new content
    assert(read(spark0, target) == "new")
    assert(read(m, target) == "new")
  }

  test("CheckpointFileManager.create: the graft manager on file:, Spark's default on another scheme") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.other.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean("fs.other.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-ckpt")

    val local = CheckpointFileManager.create(new Path(dir.toUri), conf)
    assert(local.isInstanceOf[GraftCheckpointFileManager])
    assert(local.asInstanceOf[GraftCheckpointFileManager].underlying
      .isInstanceOf[GraftCheckpointFileManager.Local])
    assert(local.isLocal)

    val other = new Path(s"other://${dir}")
    val forwarded = CheckpointFileManager.create(other, conf)
      .asInstanceOf[GraftCheckpointFileManager].underlying
    val withoutKey = new Configuration(conf)
    withoutKey.unset(managerKey)
    val sparkDefault = CheckpointFileManager.create(other, withoutKey)
    assert(forwarded.getClass == sparkDefault.getClass)
    // no AbstractFileSystem binding: FileContext is unsupported
    assert(forwarded.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }
}
