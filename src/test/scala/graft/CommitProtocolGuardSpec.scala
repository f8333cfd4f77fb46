package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every store publishes its files through [[graft.sources.ManifestTable]]:
  * no other product source may carry a second commit mechanism — a
  * dynamic partition overwrite or a hand-rolled create-and-rename. */
class CommitProtocolGuardSpec extends AnyFunSuite {

  private val mechanisms = Seq("partitionOverwriteMode", "fs.rename(", "fs.create(")

  test("no commit mechanism outside ManifestTable in the product source") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: no $root")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    assert(sources.exists(_.endsWith("graft/sources/ManifestTable.scala")))
    val hits = for {
      file <- sources if !file.endsWith("graft/sources/ManifestTable.scala")
      (line, i) <- java.nio.file.Files.readAllLines(file).asScala.zipWithIndex
      m <- mechanisms if line.contains(m)
    } yield s"${root.relativize(file)}:${i + 1}: $m"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
