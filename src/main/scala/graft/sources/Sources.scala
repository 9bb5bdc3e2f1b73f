package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import scala.util.hashing.MurmurHash3

/** Parquet source registry: each table's schema is inferred once per table
  * version, the path analog of the reference reading its Cassandra schema
  * once per session from `system_schema.columns`
  * (reference: cassandra_joinlib/utils.py:461-472).
  *
  * A bare `spark.read.parquet` runs a one-task schema-inference job on
  * every call. [[parquet]] reads with the known schema instead, so a read
  * of an unchanged table runs no Spark job until its plan executes.
  *
  * Freshness rule: the schema is re-inferred when the table's [[Stamp]]
  * (a Hadoop-FS listing of relative names, lengths and mtimes, which runs
  * no Spark job) or the session's explicitly set `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` entries differ from the cached ones. One
  * entry is kept per qualified path. Only the schema is cached, never a
  * DataFrame: every call lists the files anew, so an overwritten table is
  * never served from a stale file index, and no session is pinned.
  */
object Sources {

  /** One table version: `(name relative to the table root, length,
    * mtime)` of every file under it, sorted by name. A single-file table
    * lists itself under the name "".
    */
  final case class Stamp(files: Vector[(String, Long, Long)]) {
    /** 64-bit digest of the listing, stable across JVMs. */
    def digest: Long = {
      val s = files.map { case (n, len, mt) => s"$n\u0000$len\u0000$mt" }.mkString("\n")
      (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }
  }

  private final case class Entry(stamp: Stamp, conf: Map[String, String], schema: StructType)

  private val schemas = new ConcurrentHashMap[String, Entry]()

  /** `spark.read.parquet(path)` with the schema inferred once per table
    * version. A path that cannot be listed (missing, or a glob) is read
    * as given, so Spark reports or expands it as it always does.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    locate(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((qualified, stamp)) =>
        val conf = spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }
        val known = Option(schemas.get(qualified))
          .filter(e => e.stamp == stamp && e.conf == conf)
          .getOrElse {
            val e = Entry(stamp, conf, spark.read.parquet(path).schema)
            schemas.put(qualified, e)
            e
          }
        spark.read.schema(known.schema).parquet(path)
    }

  /** The current [[Stamp]] of the table at `path`, or None when it cannot
    * be listed.
    */
  def stamp(spark: SparkSession, path: String): Option[Stamp] =
    locate(spark, path).map(_._2)

  /** The qualified path and [[Stamp]] of the table at `path`. */
  private def locate(spark: SparkSession, path: String): Option[(String, Stamp)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val root = fs.getFileStatus(p)
      val rootPath = root.getPath.toString
      Some(rootPath -> Stamp(listing(fs, root).map { st =>
        (st.getPath.toString.stripPrefix(rootPath), st.getLen, st.getModificationTime)
      }.sortBy(_._1)))
    } catch { case _: FileNotFoundException | _: IllegalArgumentException => None }

  private def listing(fs: FileSystem, st: FileStatus): Vector[FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).toVector.flatMap(listing(fs, _))
    else Vector(st)
}
