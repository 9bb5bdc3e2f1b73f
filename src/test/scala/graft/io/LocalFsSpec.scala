package graft.io

import graft.TestSpark
import graft.TestSpark.shellForksOf
import graft.streaming.EventStreams.Session

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[LocalFs]] against fresh stock instances: the same mode bits, link
  * statuses, renames and checkpoints, and a registration that leaves a
  * caller's own choice alone.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val StockFs = classOf[LocalFileSystem].getName
  private val StockContextFs = "org.apache.hadoop.fs.local.LocalFs"
  private val root = URI.create("file:///")

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def initialized[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(root, c)
    fs
  }

  private def octal(digits: String): Int = Integer.parseInt(digits, 8)

  /** The full mode of `f` (sticky bit included), read without Hadoop. */
  private def mode(f: String): Int =
    Files.getAttribute(Paths.get(f), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file under `dir` (`.crc` files included) -> its mode. */
  private def modes(dir: String): Map[String, Int] = {
    val d = Paths.get(dir)
    val all = Files.walk(d)
    try all.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(_ == d).map(p => d.relativize(p).toString -> mode(p.toString)).toMap
    finally all.close()
  }

  test("create and mkdirs leave the stock mode bits under the same umask") {
    for (umask <- Seq("022", "027", "077"); bits <- Seq("644", "755", "700", "600")) {
      val c = conf(umask)
      val perm = new FsPermission(octal(bits).toShort)
      def build(fs: FileSystem, dir: String): Map[String, Int] = {
        val out = fs.create(new Path(s"$dir/f"), perm, true, 4096,
          1.toShort, 1L << 20, null)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        assert(fs.mkdirs(new Path(s"$dir/a/b/c"), perm))
        modes(dir)
      }
      val stock = build(initialized(new LocalFileSystem(), c), tmp("stock-mode"))
      val ours = build(initialized(new NioLocalFileSystem(), c), tmp("nio-mode"))
      assert(ours.keySet == Set("f", ".f.crc", "a", "a/b", "a/b/c"))
      assert(ours == stock, s"umask $umask, mode $bits")
    }
  }

  test("a sticky-bit mode takes the stock path and keeps the bit") {
    val c = conf("022")
    def set(fs: FileSystem, bits: String): (Int, Seq[String]) = {
      val d = tmp("sticky")
      val (_, forks) = shellForksOf(fs.setPermission(new Path(d),
        new FsPermission(octal(bits).toShort)))
      (mode(d), forks)
    }
    val (stockMode, _) = set(initialized(new RawLocalFileSystem(), c), "1777")
    val (ourMode, ourForks) = set(initialized(new NioRawLocalFileSystem(), c), "1777")
    assert(ourMode == stockMode && ourMode == octal("1777"))
    assert(ourForks.nonEmpty, "a sticky bit must take the stock chmod")
    // without the sticky bit no process starts
    val (plainMode, plainForks) = set(initialized(new NioRawLocalFileSystem(), c), "751")
    assert(plainForks.isEmpty && plainMode == octal("751"), plainForks)
  }

  test("getFileLinkStatus answers as the stock lookup for files, directories, missing paths and links") {
    val c = conf("022")
    val stock = initialized(new RawLocalFileSystem(), c)
    val ours = initialized(new NioRawLocalFileSystem(), c)
    val d = tmp("links")
    Files.write(Paths.get(d, "file"), Array[Byte](1, 2, 3, 4))
    Files.createDirectory(Paths.get(d, "dir"))
    Files.createSymbolicLink(Paths.get(d, "link"), Paths.get(d, "file"))
    Files.createSymbolicLink(Paths.get(d, "dangling"), Paths.get(d, "gone"))
    def view(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (name <- Seq("file", "dir", "missing", "link", "dangling");
         p <- Seq(new Path(s"$d/$name"), new Path(s"file:$d/$name"))) {
      assert(view(ours, p) == view(stock, p), p)
    }
    assert(view(ours, new Path(s"$d/missing")).isLeft)
    assert(view(ours, new Path(s"$d/link")).exists(_(3) == true),
      "a bare path to a link reads as the link")
  }

  test("FileContext.rename(OVERWRITE) moves the data and its .crc as Hadoop's LocalFs does") {
    def renamed(contextFs: String): Map[String, Seq[Byte]] = {
      val c = conf("022")
      c.set(LocalFs.AbstractFileSystemKey, contextFs)
      val fc = FileContext.getFileContext(root, c)
      val d = tmp("rename")
      def put(name: String, bytes: Array[Byte]): Unit = {
        val out = fc.create(new Path(s"file:$d/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(bytes) finally out.close()
      }
      put("src", "new bytes".getBytes("UTF-8"))
      put("dst", "old".getBytes("UTF-8"))
      fc.rename(new Path(s"file:$d/src"), new Path(s"file:$d/dst"),
        Options.Rename.OVERWRITE)
      new java.io.File(d).listFiles().map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val stock = renamed(StockContextFs)
    val ours = renamed(classOf[NioLocalFs].getName)
    assert(ours.keySet == Set("dst", ".dst.crc"))
    assert(new String(ours("dst").toArray, "UTF-8") == "new bytes")
    assert(ours == stock)
  }

  test("register routes the session's file: IO through the fork-free classes") {
    val s = spark.newSession()
    LocalFs.register(s)
    LocalFs.register(s)
    assert(LocalFs.settings.forall { case (k, v) => s.conf.get(k) == v })
    val hc = s.sessionState.newHadoopConf()
    val tmpPath = new Path(s"file:${tmp("registered")}")
    assert(tmpPath.getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(tmpPath.toUri, hc).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("register leaves a caller's value alone: SQL conf, spark.hadoop.* or the SparkContext's Hadoop conf") {
    val sql = spark.newSession()
    sql.conf.set(LocalFs.FileSystemKey, StockFs)
    LocalFs.register(sql)
    assert(sql.conf.get(LocalFs.FileSystemKey) == StockFs)
    // the cache key follows our FileSystem only
    assert(sql.conf.getOption(LocalFs.NoCacheKey).isEmpty)
    assert(sql.conf.get(LocalFs.AbstractFileSystemKey) == classOf[NioLocalFs].getName)

    val prefixed = spark.newSession()
    prefixed.conf.set(s"spark.hadoop.${LocalFs.AbstractFileSystemKey}", StockContextFs)
    LocalFs.register(prefixed)
    assert(prefixed.conf.getOption(LocalFs.AbstractFileSystemKey).isEmpty)
    assert(prefixed.conf.get(LocalFs.FileSystemKey) == classOf[NioLocalFileSystem].getName)

    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(LocalFs.NoCacheKey, "false")
    try {
      val context = spark.newSession()
      LocalFs.register(context)
      assert(context.conf.getOption(LocalFs.NoCacheKey).isEmpty)
      assert(context.conf.get(LocalFs.FileSystemKey) == classOf[NioLocalFileSystem].getName)
    } finally hc.unset(LocalFs.NoCacheKey)
    // Hadoop's own default is no choice
    assert(hc.get(LocalFs.AbstractFileSystemKey) == StockContextFs)
    val default = spark.newSession()
    LocalFs.register(default)
    assert(default.conf.get(LocalFs.AbstractFileSystemKey) == classOf[NioLocalFs].getName)
  }

  test("a sessionize checkpoint written under the stock filesystem resumes under LocalFs with the same rows") {
    val dir = tmp("resume")
    val early = Seq("b0" -> EventFiles.events(0, 20), "b1" -> EventFiles.events(200, 20))
    val late = "b2" -> EventFiles.events(900, 5)
    def collect(into: ConcurrentLinkedQueue[Session])(rows: Seq[Session]): Unit =
      rows.foreach(into.add)
    def sorted(q: ConcurrentLinkedQueue[Session]): Seq[Session] =
      q.asScala.toSeq.sortBy(r => (r.user_id, r.session_start.getTime))

    // the stock run, then the resumed run on a later file
    val resumed = new ConcurrentLinkedQueue[Session]()
    early.foreach { case (n, e) => EventFiles.add(spark, s"$dir/in", n, e) }
    val stock = spark.newSession()
    stock.conf.set(LocalFs.AbstractFileSystemKey, StockContextFs)
    stock.conf.set(LocalFs.FileSystemKey, StockFs)
    val (stockRows, stockForks) = shellForksOf(
      EventFiles.sessionize(stock, s"$dir/in", s"$dir/ckpt", collect(resumed)))
    assert(stockRows == 480L)
    assert(stockForks.nonEmpty, "the stock run must go through the forking filesystem")
    EventFiles.add(spark, s"$dir/in", late._1, late._2)
    val nio = spark.newSession()
    val (nioRows, nioForks) = shellForksOf(
      EventFiles.sessionize(nio, s"$dir/in", s"$dir/ckpt", collect(resumed)))
    assert(nioRows == 60L, "the resumed run must read only the new file")
    assert(nioForks.isEmpty, nioForks)

    // one uninterrupted run over the same files
    val whole = new ConcurrentLinkedQueue[Session]()
    assert(EventFiles.sessionize(spark.newSession(), s"$dir/in", s"$dir/ckpt-whole",
      collect(whole)) == 540L)
    assert(sorted(resumed).nonEmpty && sorted(resumed) == sorted(whole))
  }
}
