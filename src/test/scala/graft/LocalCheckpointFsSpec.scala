package graft

import graft.streaming.LocalCheckpointFs
import graft.tools.{Demo1, Demo2, Publisher}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.io.FileNotFoundException
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.EnumSet
import scala.jdk.CollectionConverters._

/** `LocalCheckpointFs`, the `file:` FileContext the streaming start seam
  * installs, against Hadoop's stock `LocalFs` on the same operations: the
  * same checkpoint files and modes, checksums, no-clobber renames and
  * symlinks, a checkpoint that moves between the two, and no process forked
  * under `AbstractFileSystem` while Demo1 and Demo2 checkpoint.
  */
class LocalCheckpointFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val Key = "fs.AbstractFileSystem.file.impl"
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"
  private val Ours = classOf[LocalCheckpointFs].getName
  private val End = 1700000000L

  /** Runs `body` with the session's `file:` FileContext setting at `impl`
    * (`None`: unset, so the start seam installs its own), then restores it. */
  private def withImpl[T](impl: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    impl.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  private def fc(impl: String): FileContext = {
    val c = new Configuration()
    c.set(Key, impl)
    FileContext.getLocalFSFileContext(c)
  }

  private val scratch = Files.createTempDirectory("graft_ckfs")
  override def afterAll(): Unit = SparkTestSession.deleteRecursively(scratch.toString)
  private def tmp(prefix: String): Path = Files.createTempDirectory(scratch, prefix)
  private def hpath(p: Path): HPath = new HPath(p.toUri)
  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → permission bits of every entry under `root`. */
  private def tree(root: Path): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  private def lines(users: Range, endS: Long): Seq[String] =
    Publisher.messageLines(users, 10, endS)

  /** The second file is 10 minutes on, so batch 1 closes batch 0's windows. */
  private val twoBatches = Seq(lines(1000 until 1003, End), lines(1000 until 1003, End + 600L))

  /** Lands each drop in `in` as one file (written beside it, then renamed
    * in, so no trigger lists it half-written) and drains it before the next. */
  private def drain(q: StreamingQuery, in: Path, drops: Seq[Seq[String]]): Unit =
    try drops.foreach { d =>
      val staged = Files.write(in.resolveSibling(s"${in.getFileName}.tmp"), d.asJava)
      Files.move(staged, in.resolve(s"drop_${in.toFile.list().length}.json"),
        StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally q.stop()

  /** `Demo2.build` on `base/in`, `base/out` and `ckpt` over `drops`. */
  private def demo2(base: Path, ckpt: Path, drops: Seq[Seq[String]]): StreamingQuery = {
    val in = Files.createDirectories(base.resolve("in"))
    val q = Demo2.build(spark, in.toString, base.resolve("out").toString, ckpt.toString)
    drain(q, in, drops)
    q
  }

  private def windows(base: Path): Seq[(java.sql.Timestamp, Int, Long)] =
    spark.read.parquet(base.resolve("out").toString).collect().toSeq
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2)))
      .sortBy(w => (w._1.getTime, w._2))

  private def droppedLate(qs: StreamingQuery*): Long =
    qs.flatMap(_.recentProgress).flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** A 2-batch Demo2 run on each filesystem; the setting seen after start
    * shows the seam installs its own only when the key is unset. */
  private lazy val demo2Runs: Map[String, Path] = Seq(Some(Stock) -> Stock, None -> Ours).map {
    case (impl, name) =>
      val base = tmp("demo2")
      withImpl(impl) {
        demo2(base, base.resolve("ckpt"), twoBatches)
        assert(spark.conf.get(Key) == name)
      }
      name -> base
  }.toMap

  test("a 2-batch Demo2 checkpoint lists the same files with the same modes as on LocalFs") {
    def listing(base: Path) =
      (tree(base.resolve("ckpt")), tree(base.resolve("out/_spark_metadata")))
    val (stock, ours) = (listing(demo2Runs(Stock)), listing(demo2Runs(Ours)))
    assert(ours == stock)
    val files = ours._1.keySet
    assert(Seq("offsets/1", "offsets/.1.crc", "commits/1", "commits/.1.crc").forall(files),
      s"checkpoint files: ${files.toSeq.sorted}")
    assert(files.exists(_.endsWith(".delta.crc")), s"no state delta checksum in ${files.toSeq.sorted}")
    assert(windows(demo2Runs(Ours)) == windows(demo2Runs(Stock)))
  }

  test("a file: FileContext set in the SparkContext's Hadoop conf is left in place") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val (value, sources) = (hadoop.get(Key), hadoop.getPropertySources(Key))
    hadoop.set(Key, Stock)
    try withImpl(None) {
      demo2(tmp("hadoopset"), tmp("hadoopset_ckpt"), Nil)
      assert(spark.conf.getOption(Key).isEmpty)
    } finally hadoop.set(Key, value, sources.last) // Hadoop's default again, source included
  }

  test("setPermission sets the same mode bits as LocalFs: 0640 and 0755 files, a 01777 directory") {
    val modes = Seq(Stock, Ours).map { impl =>
      val dir = tmp("perm")
      val (file, sub) = (Files.createFile(dir.resolve("f")), Files.createDirectory(dir.resolve("d")))
      Seq(file -> "640", file -> "755", sub -> "1777").map { case (p, octal) =>
        fc(impl).setPermission(hpath(p), new FsPermission(Integer.parseInt(octal, 8).toShort))
        mode(p)
      }
    }
    assert(modes.distinct == Seq(Seq(0x1a0, 0x1ed, 0x3ff)), s"(LocalFs, ours) = $modes")
  }

  test("a flipped byte in offsets/0 fails a FileContext read with ChecksumException") {
    val oneArgument = Seq(Stock, Ours).map { impl =>
      val dir = tmp("crc")
      Seq("0", ".0.crc").foreach(n => Files.copy(demo2Runs(impl).resolve(s"ckpt/offsets/$n"),
        dir.resolve(n), StandardCopyOption.COPY_ATTRIBUTES))
      val file = hpath(dir.resolve("0"))
      def read(open: => java.io.InputStream): Array[Byte] = {
        val in = open
        try in.readAllBytes() finally in.close()
      }
      val bytes = read(fc(impl).open(file, 4096))
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
      Files.write(dir.resolve("0"), bytes)
      intercept[ChecksumException](read(fc(impl).open(file, 4096)))
      // the one-argument open, the form Spark's checkpoint manager calls
      scala.util.Try(read(fc(impl).open(file))).map(_.sameElements(bytes))
    }
    // LocalFs hands it through FilterFs.open(Path) to the raw filesystem
    // and returns the flipped bytes; LocalCheckpointFs verifies it
    assert(oneArgument(0) == scala.util.Success(true), s"LocalFs: ${oneArgument(0)}")
    assert(oneArgument(1).failed.toOption.exists(_.isInstanceOf[ChecksumException]),
      s"LocalCheckpointFs: ${oneArgument(1)}")
  }

  test("rename onto an existing file without OVERWRITE throws FileAlreadyExistsException") {
    Seq(Stock, Ours).foreach { impl =>
      val (f, dir) = (fc(impl), tmp("rename"))
      val Seq(a, b) = Seq("a", "b").map { n =>
        val p = hpath(dir.resolve(n))
        val out = f.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(n.getBytes) finally out.close()
        p
      }
      intercept[FileAlreadyExistsException](f.rename(a, b))
      f.rename(a, b, Options.Rename.OVERWRITE)
      assert(Files.readString(dir.resolve("b")) == "a")
      assert(tree(dir).keySet == Set("b", ".b.crc"), s"$impl left ${tree(dir).keySet}")
    }
  }

  test("getFileLinkStatus on a symlink returns the same qualified target; a missing path throws") {
    val dir = tmp("link")
    val target = Files.createFile(dir.resolve("target"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // a bare and a `file:` path: Hadoop's readlink gets `file:/...` for the
    // second, fails, and reports no link, which must not change either
    val seen = Seq(Stock, Ours).map { impl =>
      intercept[FileNotFoundException](fc(impl).getFileLinkStatus(hpath(dir.resolve("missing"))))
      Seq(new HPath(link.toString), hpath(link), hpath(target)).map { p =>
        val s = fc(impl).getFileLinkStatus(p)
        Option.when(s.isSymlink)(s.getSymlink.toUri.getPath)
      }
    }
    assert(seen(1) == seen(0))
    assert(seen(1).head.contains(target.toString) && seen(1)(2).isEmpty, s"ours: ${seen(1)}")
  }

  test("a checkpoint directory reached through a symlink runs as on LocalFs") {
    val runs = Seq(Some(Stock), None).map { impl =>
      val base = tmp("symckpt")
      val real = Files.createDirectory(base.resolve("real"))
      val link = Files.createSymbolicLink(base.resolve("ckpt"), real)
      withImpl(impl)(demo2(base, link, twoBatches))
      (tree(real), windows(base))
    }
    assert(runs(1) == runs(0))
    assert(runs(1)._2.map(_._3).sum == 30L)
  }

  test("restart: batch 0 on LocalFs, the rest on the installed FS, equals one uninterrupted run") {
    // the second drop carries three users' events eight minutes behind
    // batch 0's watermark, three late (window, user) rows; the third drop
    // closes the second's windows
    val drops = Seq(lines(1000 until 1003, End),
      lines(1000 until 1003, End + 600L) ++ Publisher.messageLines(2000 until 2003, 1, End - 600L),
      lines(1000 until 1001, End + 1200L))
    val whole = tmp("whole")
    val q = withImpl(None)(demo2(whole, whole.resolve("ckpt"), drops))
    val split = tmp("split")
    val q0 = withImpl(Some(Stock))(demo2(split, split.resolve("ckpt"), drops.take(1)))
    val q1 = withImpl(None)(demo2(split, split.resolve("ckpt"), drops.drop(1)))
    val (w, s) = (windows(whole), windows(split))
    assert(s == w)
    assert(s.map(r => (r._1, r._2)).distinct.size == s.size, s"duplicate windows in $s")
    assert(s.map(_._3).sum == 60L)
    assert(droppedLate(q0, q1) == droppedLate(q) && droppedLate(q) == 3L,
      s"dropped late: split ${droppedLate(q0, q1)}, whole ${droppedLate(q)}")
  }

  /** Command lines of the processes `body` started with
    * `org.apache.hadoop.fs.AbstractFileSystem` on the stack, from an
    * in-process flight recording of `jdk.ProcessStart`. */
  private def forksUnderAfs(body: => Unit): Seq[String] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      try body finally r.stop()
      val dump = Files.createTempFile("graft_ckfs", ".jfr")
      try {
        r.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName == "org.apache.hadoop.fs.AbstractFileSystem")))
          .map(_.getString("command"))
      } finally Files.delete(dump)
    } finally r.close()
  }

  test("Demo1 and Demo2 checkpoints fork no process under AbstractFileSystem") {
    // the recording sees LocalFs's forks: a create and a rename
    val control = forksUnderAfs {
      val (f, dir) = (fc(Stock), tmp("control"))
      f.create(hpath(dir.resolve("a")), EnumSet.of(CreateFlag.CREATE)).close()
      f.rename(hpath(dir.resolve("a")), hpath(dir.resolve("b")))
    }
    assert(control.nonEmpty)
    val forks = withImpl(None)(forksUnderAfs {
      val d1 = tmp("demo1")
      val in = Files.createDirectories(d1.resolve("in"))
      drain(Demo1.build(spark, in.toString, d1.resolve("out").toString, d1.resolve("ckpt").toString),
        in, twoBatches)
      val d2 = tmp("demo2")
      demo2(d2, d2.resolve("ckpt"), twoBatches)
      ()
    })
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.distinct.take(5)}")
  }
}
