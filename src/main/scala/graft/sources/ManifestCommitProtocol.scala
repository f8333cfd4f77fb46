package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.BucketingUtils

/** The Spark commit protocol under [[ManifestTable.stage]]: every data
  * file is written ONCE, straight into the job's flat staging directory
  * (`path`, a fresh `_staging/<uuid>/`), and stays there. No
  * `_temporary` attempt tree is made, no task or job merge rename runs
  * and no `_SUCCESS` marker is written: the one commit that matters is
  * the manifest rename that follows.
  *
  * A staged file is named after its task attempt and its ordinal in
  * that attempt, so a retried or speculative attempt never collides
  * with another. Its final path relative to the table root — the
  * partition directory plus a `part-<split>-<jobId>_<split>` name,
  * Spark's own name with the split as its bucket-id suffix
  * (`BucketingUtils.getBucketId` reads it back) — is reported by
  * [[commitTask]], and [[commitJob]] records the reported (staged name,
  * final path) pairs of the committed attempts for
  * [[ManifestCommitProtocol.committedFiles]].
  * An attempt that aborts deletes its own files; a losing attempt's
  * files are never reported and go with the staging directory.
  *
  * Instantiated by Spark's writer (by reflection) when a session's
  * `spark.sql.sources.commitProtocolClass` names it; only the store's
  * own writer session does (see [[ManifestTable]]).
  */
class ManifestCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {

  require(!dynamicPartitionOverwrite, "a manifest table stages files; it never overwrites partitions")

  // this task attempt's files: (staged name, final relative path)
  @transient private var staged: ArrayBuffer[(String, String)] = _

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    ManifestCommitProtocol.committed.put(new Path(path).getName,
      taskCommits.flatMap(_.obj.asInstanceOf[Seq[(String, String)]]))
    ()
  }

  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    staged = ArrayBuffer.empty

  override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val attempt = taskContext.getTaskAttemptID
    val split = attempt.getTaskID.getId
    // the split doubles as the file's bucket id: a table written from
    // repartition(n, keys) holds bucket i in split i
    val tail = spec.suffix.dropWhile(c => c == '-' || c == '.')
    val name = f"${spec.prefix}part-$split%05d-$jobId${BucketingUtils.bucketIdToString(split)}.$tail"
    val stagedName = s"$attempt-${staged.length}"
    staged += stagedName -> dir.fold(name)(d => s"$d/$name")
    new Path(path, stagedName).toString
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
      ext: String): String =
    newTaskTempFile(taskContext, dir, FileNameSpec("", ext))

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext, absoluteDir: String,
      spec: FileNameSpec): String =
    throw new UnsupportedOperationException(
      s"a manifest table has no custom partition locations: $absoluteDir")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(staged.toList)

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    val fs = new Path(path).getFileSystem(taskContext.getConfiguration)
    staged.foreach { case (name, _) => fs.delete(new Path(path, name), false) }
  }
}

object ManifestCommitProtocol {

  // staging directory name → the committed (staged name, final path) pairs
  private val committed = new ConcurrentHashMap[String, Seq[(String, String)]]()

  /** The (staged name, final relative path) pairs the committed job that
    * wrote `staging` reported, removing the record. A job that wrote
    * there through another protocol left no record: that fails loudly
    * rather than staging nothing. */
  def committedFiles(staging: Path): Seq[(String, String)] =
    Option(committed.remove(staging.getName)).getOrElse(throw new IllegalStateException(
      s"no job committed through ManifestCommitProtocol at $staging"))

  /** Drop the record of `staging`, if any (a failed write's cleanup). */
  def forget(staging: Path): Unit = {
    committed.remove(staging.getName)
    ()
  }
}
