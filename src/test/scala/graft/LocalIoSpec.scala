package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Fork-free local I/O ([[Engine.withLocalIo]]): graft's `file:` FS writes
  * the same permission bits as the stock chmod path, sessions resolve
  * to it and to Spark's FileSystem-based checkpoint manager with both
  * checksum layers on, and a stateful drain restarted from its
  * checkpoint on this path returns the same rows. */
class LocalIoSpec extends SparkSuite {
  import spark.implicits._

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val graftRaw = raw(new graft.io.LocalFs.Raw)

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** Every path under `root`, deepest first. */
  private def tree(root: JPath): Seq[JPath] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse finally walk.close()
  }

  private def withTmp[T](f: JPath => T): T = {
    val d = Files.createTempDirectory("graft_localio")
    try f(d) finally tree(d).foreach(p => Files.deleteIfExists(p))
  }

  test("setPermission leaves exactly the bits stock chmod leaves") {
    withTmp { d =>
      for (m <- Seq("600", "644", "700", "755").map(oct);
           dir <- Seq(false, true)) {
        def mk(name: String): JPath = {
          val p = d.resolve(s"$name-${m.toOctalString}-$dir")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
          // start from a mode that differs from the target in every
          // class, so a bit the setter fails to clear shows
          Files.setPosixFilePermissions(p,
            PosixFilePermissions.fromString("rwxrwxrwx"))
          p
        }
        val (a, b) = (mk("stock"), mk("graft"))
        stock.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
        graftRaw.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
        assert(mode(a) == m, s"stock ${m.toOctalString} dir=$dir")
        assert(mode(b) == mode(a), s"graft ${m.toOctalString} dir=$dir")
      }
    }
  }

  test("a sticky-bit mode takes the stock fallback") {
    withTmp { d =>
      val p = Files.createDirectory(d.resolve("sticky"))
      val sticky = oct("1755") // NIO cannot express the sticky bit
      graftRaw.setPermission(new Path(p.toUri),
        new FsPermission(sticky.toShort))
      assert(mode(p) == sticky)
    }
  }

  test("graft sessions resolve file: to graft's FS and the " +
    "FileSystem-based checkpoint manager, checksums on") {
    withTmp { d =>
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(d.toUri)
      assert(p.getFileSystem(conf).isInstanceOf[graft.io.LocalFs])
      assert(CheckpointFileManager.create(p, conf)
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
      // the state store wraps its manager in ChecksumCheckpointFileManager
      // when this is on; the drain test checks the files it writes
      assert(spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
    }
  }

  test("a stateful drain restarted from its checkpoint returns the " +
    "same rows, with both checksum layers on disk") {
    withTmp { d =>
      val src = d.resolve("src").toString
      val cp = d.resolve("cp").toString
      def land(rows: Seq[(String, Long)]): Unit =
        rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(src)
      land(Seq("a" -> 1L, "b" -> 2L))
      land(Seq("a" -> 3L, "c" -> 4L))
      val schema = spark.read.parquet(src).schema

      def drain(name: String, checkpoint: String): Map[String, (Long, Long)] = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("v"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(name).option("checkpointLocation", checkpoint).start()
        try q.processAllAvailable()
        finally { q.stop(); StateStore.stop() }
        spark.table(name).as[(String, Long, Long)].collect()
          .map { case (k, n, v) => k -> (n, v) }.toMap
      }

      drain("localio_first", cp)
      // lands while the query is down: the restart must restore the
      // state from the checkpoint files (StateStore.stop unloaded it)
      land(Seq("b" -> 5L, "d" -> 6L))
      val restarted = drain("localio_restart", cp)
      val fresh = drain("localio_fresh", d.resolve("cp_fresh").toString)
      val batch = spark.read.parquet(src).groupBy($"k")
        .agg(count(lit(1)).as("n"), sum($"v").as("v"))
        .as[(String, Long, Long)].collect()
        .map { case (k, n, v) => k -> (n, v) }.toMap
      assert(restarted == batch)
      assert(fresh == batch)
      assert(batch == Map("a" -> (2L, 4L), "b" -> (2L, 7L),
        "c" -> (1L, 4L), "d" -> (1L, 6L)))

      val files = tree(JPath.of(cp, "state")).map(_.getFileName.toString)
      // Spark's checkpoint checksum sits beside the delta file
      // (`1.delta.crc`), Hadoop's ChecksumFileSystem hides its own
      // (`.1.delta.crc`)
      assert(files.exists(f => f.endsWith(".delta.crc") && !f.startsWith(".")),
        files.sorted.mkString(","))
      assert(files.exists(f => f.endsWith(".delta.crc") && f.startsWith(".")),
        files.sorted.mkString(","))
      assert(new File(cp, "commits").list().exists(_.startsWith(".")))
    }
  }
}
