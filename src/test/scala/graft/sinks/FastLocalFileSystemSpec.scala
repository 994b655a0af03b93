package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The local `file:` binding answers status and link-status queries
  * from NIO attributes, so Structured Streaming's checkpoint logs cost a
  * file write per entry, never a forked process.
  */
class FastLocalFileSystemSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-fastfs-$tag").toFile.getAbsolutePath

  private def conf = spark.sparkContext.hadoopConfiguration

  private def write(p: String, body: String): Unit = {
    Files.write(Paths.get(p), body.getBytes(StandardCharsets.UTF_8)); ()
  }

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  /** Runs an AvailableNow parquet → graft-delta stream over `files`
    * one-row feed files, one file per micro-batch.
    */
  private def stream(dir: String, files: Int): Unit = {
    val feed = Files.createDirectories(Paths.get(s"$dir/feed"))
    (0 until files).foreach { i =>
      Seq((i.toLong, s"e$i")).toDF("id", "name").coalesce(1).write.parquet(s"$dir/stage$i")
      val part = new java.io.File(s"$dir/stage$i").listFiles().find(_.getName.endsWith(".parquet")).get
      val landed = Files.copy(part.toPath, feed.resolve(s"f$i.parquet"))
      Files.setLastModifiedTime(landed, java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
    }
    val q = spark.readStream.schema("id BIGINT, name STRING")
      .option("maxFilesPerTrigger", "1").parquet(feed.toString)
      .writeStream.format("graft-delta").option("path", s"$dir/table")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("a file -> graft-delta stream starts no process") {
    // one-time class initialisation (Hadoop's Shell probes, codegen)
    // happens on a warm-up stream, outside the recording
    stream(tmp("warm"), 1)
    val dir = tmp("jfr")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try stream(dir, 3) finally rec.stop()
    val dump = Files.createTempFile("graft-fastfs", ".jfr")
    rec.dump(dump)
    rec.close()
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    // Spark removes the stream session's artifact directory once, at
    // query exit, with a native `rm -rf`; that is per query, not per
    // batch, and not this filesystem's doing
    val (exitCleanup, others) =
      starts.partition(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(others.isEmpty, s"process starts: ${others.take(5).mkString("; ")}")
    assert(exitCleanup.size <= 1)
    assert(DeltaInterop.latestVersion(spark, s"$dir/table") == 2L, "three batches, three commits")
    assert(new java.io.File(s"$dir/ckpt/commits/2").exists(), "three checkpoint commits")
  }

  test("getFileLinkStatus: regular files answer without a symlink, real symlinks still resolve") {
    val dir = tmp("links")
    write(s"$dir/data.txt", "hello")
    Files.createSymbolicLink(Paths.get(s"$dir/link.txt"), Paths.get(s"$dir/data.txt"))
    val fs = new Path(dir).getFileSystem(conf)
    assert(fs.isInstanceOf[FastLocalFileSystem])
    val plain = fs.getFileLinkStatus(new Path(s"$dir/data.txt"))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 5L)
    assert(fs.getFileLinkStatus(new Path(dir)).isDirectory)
    val link = fs.getFileLinkStatus(new Path(s"$dir/link.txt"))
    assert(link.isSymlink)
    assert(link.getSymlink.toUri.getPath == s"$dir/data.txt")
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/absent")))
    // the FileContext side (checkpoint managers) answers the same
    val fc = FileContext.getFileContext(new Path(dir).toUri, conf)
    assert(!fc.getFileLinkStatus(new Path(s"$dir/data.txt")).isSymlink)
    assert(fc.getFileLinkStatus(new Path(s"$dir/link.txt")).isSymlink)
  }

  test("FileContext.rename keeps its no-clobber and overwrite semantics") {
    val dir = tmp("rename")
    val fc = FileContext.getFileContext(new Path(dir).toUri, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[FastLocalFs])
    write(s"$dir/a", "A")
    write(s"$dir/b", "B")
    intercept[FileAlreadyExistsException](fc.rename(new Path(s"$dir/a"), new Path(s"$dir/b")))
    assert(read(s"$dir/a") == "A" && read(s"$dir/b") == "B", "a refused rename moves nothing")
    fc.rename(new Path(s"$dir/a"), new Path(s"$dir/b"), Options.Rename.OVERWRITE)
    assert(!Files.exists(Paths.get(s"$dir/a")) && read(s"$dir/b") == "A")
    fc.rename(new Path(s"$dir/b"), new Path(s"$dir/c"))
    assert(!Files.exists(Paths.get(s"$dir/b")) && read(s"$dir/c") == "A")
  }
}
