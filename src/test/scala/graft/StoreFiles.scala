package graft

import scala.jdk.CollectionConverters._

import graft.sources.ManifestTable

/** Files of a [[ManifestTable]] on the local disk. */
object StoreFiles {

  /** The data files under the local table root `root` (its manifests
    * and hidden checksum files excepted), and the files its current and
    * previous manifests list — the tail a writer's vacuum keeps for
    * readers — both as root-relative paths. */
  def diskAndRetained(root: String): (Set[String], Set[String]) = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    val disk = try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => base.relativize(p).toString).filterNot(_.startsWith("_manifests/")).toSet
    finally walk.close()
    val table = new ManifestTable(org.apache.spark.sql.SparkSession.active, root)
    (disk, table.versions().takeRight(2).flatMap(table.filesAt).toSet)
  }
}
