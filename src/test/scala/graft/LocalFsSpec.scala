package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.util.Try

import graft.streaming.{DetectMain, Jobs}
import graft.streaming.VideoSessionProcessor.{Config, FrameIn, processStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local filesystem is what every session resolves `file:`
  * to, and with it a streaming checkpoint and a backfill start no child
  * process per file. Counted with `ShellForks` (JFR process-start
  * events whose stack passes through Hadoop's `Shell`); with Hadoop's
  * stock local classes the same work starts hundreds. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  test("a Sessions.build session resolves file: to the engine's local filesystem") {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // the suite's session exists, so this returns it with only runtime
    // settings applied; put back the one Sessions.build may change
    val built = try Sessions.build("LocalFsSpec")
    finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    for (conf <- Seq(built.sparkContext.hadoopConfiguration, built.sessionState.newHadoopConf())) {
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[GraftRawLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    }
  }

  test("the fork counter sees Hadoop's stock local classes shell out") {
    // without this the zero counts below could come from a blind counter
    val dir = Files.createTempDirectory("graft_forks_stock")
    def renameOnce(conf: Configuration, name: String): Int = {
      val fc = FileContext.getFileContext(conf)
      val src = new Path(dir.resolve(s"$name.tmp").toUri)
      ShellForks.count {
        fc.create(src, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
        fc.rename(src, new Path(dir.resolve(name).toUri))
      }._2
    }
    val stock = new Configuration(spark.sparkContext.hadoopConfiguration)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    assert(renameOnce(stock, "a") > 0)
    assert(renameOnce(spark.sparkContext.hadoopConfiguration, "b") == 0)
  }

  test("streaming micro-batches on a local checkpoint start no Hadoop shell process") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_forks_ckpt").toString
    val input = MemoryStream[FrameIn]
    // the state's processing-time timeouts keep no-data batches coming,
    // so the query is never idle: wait for the sink, as Bench's probe does
    val q = processStream(input.toDS(), Config(idleTimeoutMs = 600000L))
      .writeStream.format("memory").queryName("localfs_forks")
      .option("checkpointLocation", ckpt).start()
    def batch(b: Int): Unit = {
      input.addData((0 until 16).map(i => FrameIn(s"v${i % 4}", b * 4 + i / 4, 0L)): _*)
      val deadline = System.currentTimeMillis() + 30000L
      while (spark.table("localfs_forks").count() < 16L * (b + 1) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5L)
    }
    try {
      batch(0) // the first batch creates the checkpoint layout
      val first = q.lastProgress.batchId
      val (_, forks, cmds) = ShellForks.count((1 to 20).foreach(batch))
      assert(spark.table("localfs_forks").count() == 16L * 21)
      assert(q.lastProgress.batchId - first >= 20L)
      assert(q.lastProgress.stateOperators.nonEmpty)
      assert(forks == 0, s"Hadoop shelled out $forks times: ${cmds.distinct.take(5)}")
    } finally q.stop()
  }

  test("a backfill (DetectMain.run + writeAnnotatedVideos) starts no Hadoop shell process") {
    val base = Files.createTempDirectory("graft_forks_backfill").toString
    val frames = (0 until 200).map(i => FrameIn(s"v${i % 3}", i / 3, (i / 3) * 33000L))
    frames.toDS().repartition(4).write.parquet(s"$base/frames")
    val annotated = frames.map(f => (f.video_id, f.frame_number, Array[Byte](1, 2, 3))).toDS()
    val (manifest, forks, cmds) = ShellForks.count {
      DetectMain.run(spark, s"$base/frames", s"$base/out")
      Jobs.writeAnnotatedVideos(annotated, s"$base/videos")
    }
    assert(spark.read.parquet(s"$base/out/detections").count() == frames.size)
    assert(manifest.size == 3)
    assert(forks == 0, s"Hadoop shelled out $forks times: ${cmds.distinct.take(5)}")
  }
}

/** `GraftRawLocalFileSystem` against Hadoop's stock `RawLocalFileSystem`:
  * the same permissions on disk and the same link statuses and errors,
  * with Hadoop's own code still taking what java.nio cannot express. */
class LocalFsEquivalenceSpec extends AnyFunSuite {

  private def fs(raw: RawLocalFileSystem, umask: String = "022"): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    raw.initialize(URI.create("file:///"), conf)
    raw
  }

  private def perms(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Runs `body` against a fresh directory for each class and returns
    * both results: (stock, graft). */
  private def both[T](umask: String = "022")(body: (RawLocalFileSystem, NioPath) => T): (T, T) = {
    val root = Files.createTempDirectory("graft_localfs")
    def side(name: String, raw: RawLocalFileSystem): T = {
      val dir = Files.createDirectory(root.resolve(name))
      body(fs(raw, umask), dir)
    }
    (side("stock", new RawLocalFileSystem), side("graft", new GraftRawLocalFileSystem))
  }

  test("setPermission leaves the same permissions as the stock class, in-process") {
    for (m <- Seq("600", "644", "700", "755"); dir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val (stock, graft) = both() { (raw, d) =>
        val p = d.resolve("x")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        val forks = ShellForks.count(raw.setPermission(new Path(p.toString), perm))._2
        (perms(p), forks)
      }
      assert(graft._1 == stock._1, s"mode $m dir=$dir")
      assert(graft._1 == perm.toString)
      assert(stock._2 > 0 && graft._2 == 0, s"forks stock=${stock._2} graft=${graft._2}")
    }
  }

  test("create and mkdirs apply the umask as the stock class does") {
    for (umask <- Seq("022", "027", "077")) {
      val (stock, graft) = both(umask) { (raw, d) =>
        val forks = ShellForks.count {
          raw.create(new Path(d.resolve("sub/file").toString),
            new FsPermission(Integer.parseInt("666", 8).toShort),
            false, 4096, 1.toShort, 1L << 20, null).close()
          raw.mkdirs(new Path(d.resolve("made/deeper").toString),
            new FsPermission(Integer.parseInt("777", 8).toShort))
        }._2
        (Seq("sub", "sub/file", "made", "made/deeper").map(s => perms(d.resolve(s))), forks)
      }
      assert(graft._1 == stock._1, s"umask $umask")
      assert(graft._2 == 0, s"umask $umask: ${graft._2} forks")
    }
  }

  test("getFileLinkStatus matches the stock class on files, dirs, symlinks and missing paths") {
    def status(raw: RawLocalFileSystem, p: Path): Either[String, (Boolean, Boolean, Boolean, Long, String)] =
      Try(raw.getFileLinkStatus(p)).toEither.left.map {
        case _: FileNotFoundException => "FileNotFoundException"
        case e => e.toString
      }.map(s => (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink.toUri.getPath.replaceAll(".*/(stock|graft)/", "") else ""))
    val (stock, graft) = both() { (raw, d) =>
      Files.write(d.resolve("file"), "abc".getBytes)
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nowhere"))
      val names = Seq("file", "dir", "link", "dangling", "missing")
      // Hadoop reads a plain path and a file: URI differently (its
      // readlink sees the URI as a relative name); both forms must agree
      val all = for (n <- names; uri <- Seq(false, true)) yield {
        val p = if (uri) new Path(d.resolve(n).toUri) else new Path(d.resolve(n).toString)
        val (st, forks, _) = ShellForks.count(status(raw, p))
        (n, uri) -> (st, forks)
      }
      all.toMap
    }
    for (k <- stock.keys) assert(graft(k)._1 == stock(k)._1, s"$k")
    assert(stock(("link", false))._1.exists(_._3), "the stock class sees the symlink")
    assert(stock(("missing", false))._1 == Left("FileNotFoundException"))
    // only real symlinks take Hadoop's forking path
    for (n <- Seq("file", "dir", "missing"); uri <- Seq(false, true))
      assert(graft((n, uri))._2 == 0, s"$n uri=$uri")
  }

  test("a permission beyond 0777 (sticky bit) takes Hadoop's own path") {
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    val (stock, graft) = both() { (raw, d) =>
      val p = Files.createDirectory(d.resolve("sticky"))
      val forks = ShellForks.count(raw.setPermission(new Path(p.toString), sticky))._2
      (mode(p), forks)
    }
    assert(graft._1 == stock._1 && graft._1 == Integer.parseInt("1755", 8))
    assert(graft._2 == 1, s"expected Hadoop's chmod, saw ${graft._2} forks")
  }
}
