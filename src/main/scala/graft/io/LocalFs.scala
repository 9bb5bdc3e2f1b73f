package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its process forks. Without
  * `libhadoop` (which `$SPARK_HOME/jars` does not ship) the stock class
  * runs `chmod` for every file and directory it creates and `readlink`
  * for every link-status lookup (each `FileContext` rename makes two),
  * so a checkpoint commit, a state-store delta or a parquet part file
  * costs a `fork`/`exec` per created path. Both are answered here through
  * `java.nio` with the same outcome; everything else is the stock class.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits of `permission` set through `java.nio`. A sticky bit
    * (which `java.nio` cannot express) or a default filesystem without
    * POSIX attributes takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posixBits(permission))

  /** A path that is not a symbolic link has its own status as its link
    * status — the stock answer, without the `readlink` fork that finds
    * out. Links keep the stock lookup.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` (`file:` through `FileSystem.get`): the
  * stock `LocalFileSystem` over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` behind [[NioLocalFs]]: Hadoop's
  * `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]], with the same overrides.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (`file:` through `FileContext`,
  * which Spark's checkpoint and state-store files go through): Hadoop's
  * `LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Routes a session's `file:` IO through [[NioLocalFileSystem]] and
  * [[NioLocalFs]] with Hadoop's own keys. Bytes, mode bits, `.crc` files
  * and every other scheme stay as they were.
  */
object LocalFs {
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"
  val FileSystemKey = "fs.file.impl"
  /** The JVM's `FileSystem` cache may already hold a stock instance for
    * `file:` (any read before the keys were set), so an instance of ours
    * is only reached when the cache is bypassed.
    */
  val NoCacheKey = "fs.file.impl.disable.cache"

  /** The three keys and their values, for a session's builder
    * (`spark.hadoop.` + key) or its runtime conf ([[register]]).
    */
  val settings: Seq[(String, String)] = Seq(
    AbstractFileSystemKey -> classOf[NioLocalFs].getName,
    FileSystemKey -> classOf[NioLocalFileSystem].getName,
    NoCacheKey -> "true")

  private[io] lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private val rwx = Seq(FsAction.READ, FsAction.WRITE, FsAction.EXECUTE)

  private[io] def posixBits(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for {
      (action, perms) <- Seq(
        p.getUserAction -> Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE),
        p.getGroupAction -> Seq(GROUP_READ, GROUP_WRITE, GROUP_EXECUTE),
        p.getOtherAction -> Seq(OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))
      (need, perm) <- rwx.zip(perms) if action.implies(need)
    } bits.add(perm)
    bits
  }

  private lazy val hadoopDefaults = {
    val c = new Configuration(false)
    c.addResource("core-default.xml")
    c
  }

  /** The value the caller chose for `key`: set in the session conf,
    * directly or as `spark.hadoop.<key>`, or set in the SparkContext's
    * Hadoop conf to something other than Hadoop's default.
    */
  private def chosen(spark: SparkSession, key: String): Option[String] =
    spark.conf.getOption(key)
      .orElse(spark.conf.getOption(s"spark.hadoop.$key"))
      .orElse(Option(spark.sparkContext.hadoopConfiguration.get(key))
        .filterNot(v => Option(hadoopDefaults.get(key)).contains(v)))

  /** Set the [[settings]] in `spark`'s session conf, each only where the
    * caller chose no value, so that files graft writes afterwards — and
    * the checkpoint and state files of a stream started afterwards, whose
    * session clones this conf at `start()` — go through the fork-free
    * classes. The cache key is set only when the `FileSystem` key holds
    * ours: it must not change how another implementation is cached.
    * Idempotent; a caller opts out by setting a key itself.
    */
  def register(spark: SparkSession): Unit = {
    val ours = settings.toMap
    def claim(key: String): Boolean = chosen(spark, key) match {
      case None => spark.conf.set(key, ours(key)); true
      case Some(v) => v == ours(key)
    }
    claim(AbstractFileSystemKey)
    if (claim(FileSystemKey)) claim(NoCacheKey)
  }
}
