package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Test-only local filesystem under the `crashfs` scheme (a
  * `RawLocalFileSystem`, so no checksum side files): `crashfs:///tmp/x`
  * is the local `/tmp/x`. It counts its calls by name (`mkdirs` too,
  * including the ones a create makes for its parents), records the
  * directories it lists and, once
  * [[CrashFs.arm]]ed at k, fails the k-th create, rename or delete
  * with an `IOException`, and every one after it, until
  * [[CrashFs.disarm]] — a writer that crashed at that step. */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = CrashFs.Scheme
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")

  // every create and append of RawLocalFileSystem opens its stream here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    CrashFs.mutation("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.mutation("rename", src)
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.mutation("delete", f)
    super.delete(f, recursive)
  }
  // counted, never failed: a directory is not a crash point
  override def mkdirs(f: Path): Boolean = {
    CrashFs.count("mkdirs")
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.count("mkdirs")
    super.mkdirs(f, permission)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CrashFs.count("open")
    super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CrashFs.count("getFileStatus")
    plain(super.getFileStatus(f))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CrashFs.count("listStatus")
    CrashFs.listings.add(f.toUri.getPath)
    super.listStatus(f).map(plain)
  }

  // The local statuses load their permissions lazily through a
  // `file:` URI, which this scheme is not; hand out plain copies.
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, FsPermission.getDefault, "crashfs", "crashfs",
      st.getPath)
  override def exists(f: Path): Boolean = {
    CrashFs.count("exists")
    super.exists(f)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  private val calls = new ConcurrentHashMap[String, AtomicLong]()
  private val mutations = new AtomicLong()
  private val listings = ConcurrentHashMap.newKeySet[String]()
  @volatile private var crashAt = Long.MaxValue

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)

  /** `crashfs` URI of a local directory. */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** Zero the counters and disarm. */
  def reset(): Unit = {
    calls.clear()
    listings.clear()
    mutations.set(0L)
    crashAt = Long.MaxValue
  }

  /** [[reset]], then fail the k-th create/rename/delete and every later one. */
  def arm(k: Long): Unit = {
    reset()
    crashAt = k
  }

  def disarm(): Unit = crashAt = Long.MaxValue

  /** Creates, renames and deletes since the last [[reset]]. */
  def mutationCount: Long = mutations.get()

  /** Calls by name since the last [[reset]]. */
  def counts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    calls.asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  /** Local paths of the directories listed since the last [[reset]]. */
  def listed: Set[String] = {
    import scala.jdk.CollectionConverters._
    listings.asScala.toSet
  }

  private def count(name: String): Unit = {
    calls.computeIfAbsent(name, _ => new AtomicLong()).incrementAndGet()
    ()
  }

  private def mutation(name: String, p: Path): Unit = {
    count(name)
    if (mutations.incrementAndGet() >= crashAt)
      throw new IOException(s"injected crash: $name $p")
  }
}
