package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What `MergeTable` commits left on disk, read from the file system alone:
  * a table is a directory holding a `_CURRENT` pointer, its versions are the
  * `v<n>` directories under it. Bytes are counted once per inode, so files
  * a commit hard-links forward from an older version are not new bytes.
  */
object Storage {

  final case class FileRec(ino: Long, size: Long, isData: Boolean)

  /** table (path relative to `root`, `/` replaced by `_`) → version → files */
  type Snapshot = Map[String, Map[String, Seq[FileRec]]]

  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList finally w.close()
    }

  private def rec(p: Path): FileRec = FileRec(
    Files.getAttribute(p, "unix:ino").asInstanceOf[Long], Files.size(p),
    p.getFileName.toString.endsWith(".parquet"))

  private def isVersion(name: String): Boolean =
    name.length > 1 && name.startsWith("v") && name.drop(1).forall(_.isDigit)

  def tableRoots(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val w = Files.walk(root, 4)
      try w.iterator().asScala.filter(p => Files.isRegularFile(p.resolve("_CURRENT"))).toList
      finally w.close()
    }

  def snapshot(root: Path): Snapshot = tableRoots(root).map { t =>
    val name = root.relativize(t).toString.replace('/', '_')
    val versions = Files.list(t)
    val vs = try versions.iterator().asScala
      .filter(v => Files.isDirectory(v) && isVersion(v.getFileName.toString)).toList
    finally versions.close()
    name -> vs.map(v => v.getFileName.toString -> files(v).map(rec)).toMap
  }.toMap

  final case class Written(bytes: Long, dataFiles: Long, versions: Seq[String])

  /** Per table: the versions committed between two snapshots, and the bytes
    * and data files in them that no earlier version already held.
    */
  def written(before: Snapshot, after: Snapshot): Map[String, Written] =
    after.map { case (table, versions) =>
      val old = before.getOrElse(table, Map.empty)
      val oldInodes = old.values.flatten.map(_.ino).toSet
      val fresh = versions.keySet -- old.keySet
      val recs = fresh.toSeq.flatMap(versions).filterNot(r => oldInodes(r.ino))
        .groupBy(_.ino).values.map(_.head).toSeq
      table -> Written(recs.map(_.size).sum, recs.count(_.isData).toLong,
        fresh.toSeq.sortBy(_.drop(1).toLong))
    }

  /** Bytes of every regular file under `root`, each inode once. */
  def uniqueBytes(root: Path): Long =
    files(root).map(rec).groupBy(_.ino).values.map(_.head.size).sum

  /** Recursive copy that hard-links every file: versions are immutable and
    * the pointer is replaced by a rename, so the copy can commit on its own.
    */
  def linkCopy(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.createLink(q, p)
    } finally w.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally w.close()
  }
}
