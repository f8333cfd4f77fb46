package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}
import org.apache.spark.internal.io.FileNameSpec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestCommitProtocol

/** [[ManifestCommitProtocol]] on its own, driven the way Spark's file
  * writer drives it, with no Spark job: two attempts of one split write
  * into the same flat staging directory; one aborts, one commits. */
class ManifestCommitProtocolSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def attempt(attemptNo: Int) =
    new TaskAttemptContextImpl(conf, new TaskAttemptID("20261019", 7, TaskType.MAP, 3, attemptNo))

  /** The copy a task gets: the driver's protocol, serialized and back. */
  private def taskCopy(p: ManifestCommitProtocol): ManifestCommitProtocol = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(p)
    out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[ManifestCommitProtocol]
  }

  test("only the committed attempt's files are reported; the aborted attempt's are gone") {
    val staging = new Path(Files.createTempDirectory("mcp_").toString, "_staging/job-uuid")
    val protocol = new ManifestCommitProtocol("job1", staging.toString, false)
    val fs = staging.getFileSystem(conf)
    def write(p: String): Unit = { fs.create(new Path(p)).close() }

    val job = new JobContextImpl(conf, new JobID("20261019", 7))
    protocol.setupJob(job)
    val spec = FileNameSpec("", ".c000.zstd.parquet")

    // attempt 0: two partition directories, then it fails
    val lost = attempt(0)
    val lostTask = taskCopy(protocol)
    lostTask.setupTask(lost)
    val lostFiles = Seq(Some("retention=short/valid_month=202403"), Some("retention=short/valid_month=202404"))
      .map(d => lostTask.newTaskTempFile(lost, d, spec))
    lostFiles.foreach(write)

    // attempt 1 of the same split: the same two directories, in the same staging dir
    val won = attempt(1)
    val wonTask = taskCopy(protocol)
    wonTask.setupTask(won)
    val wonFiles = Seq(Some("retention=short/valid_month=202403"), Some("retention=short/valid_month=202404"))
      .map(d => wonTask.newTaskTempFile(won, d, spec))
    wonFiles.foreach(write)

    // staged names are flat, carry the attempt, and never collide
    (lostFiles ++ wonFiles).foreach(f => assert(new Path(f).getParent.toUri.getPath == staging.toUri.getPath))
    assert((lostFiles ++ wonFiles).distinct.length == 4)
    assert(lostFiles.forall(_.contains("_m_000003_0-")) && wonFiles.forall(_.contains("_m_000003_1-")))

    lostTask.abortTask(lost)
    lostFiles.foreach(f => assert(!fs.exists(new Path(f)), s"aborted attempt left $f"))

    val commit = wonTask.commitTask(won)
    protocol.commitJob(job, Seq(commit))
    val reported = ManifestCommitProtocol.committedFiles(staging)
    assert(reported.map(_._1) == wonFiles.map(f => new Path(f).getName))
    assert(reported.map(_._2) == Seq(
      "retention=short/valid_month=202403/part-00003-job1_00003.c000.zstd.parquet",
      "retention=short/valid_month=202404/part-00003-job1_00003.c000.zstd.parquet"))
    wonFiles.foreach(f => assert(fs.exists(new Path(f))))
    // the record is taken once
    intercept[IllegalStateException](ManifestCommitProtocol.committedFiles(staging))
    // nothing else was made: no attempt tree, no marker
    assert(fs.listStatus(staging).map(_.getPath.getName).filterNot(_.endsWith(".crc")).sorted.toSeq ==
      wonFiles.map(f => new Path(f).getName).sorted)
    FsUtil.deleteRecursively(new java.io.File(staging.getParent.getParent.toUri.getPath))
  }
}
