package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** File-tree helpers for work dirs and output accounting. */
object Dirs {

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def wipe(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    val all = try s.iterator().asScala.toList finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  def fresh(dir: Path): Path = { wipe(dir); Files.createDirectories(dir) }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    val all = try s.iterator().asScala.toList finally s.close()
    all.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** (size, mtime) per file, relative to `dir`. */
  type Snapshot = Map[String, (Long, java.time.Instant)]

  def snapshot(dir: Path): Snapshot = files(dir).map { p =>
    dir.relativize(p).toString ->
      (Files.size(p), Files.getLastModifiedTime(p).toInstant)
  }.toMap

  /** Files under `dir` that are new or rewritten since `before`. */
  def written(before: Snapshot, dir: Path): Snapshot =
    snapshot(dir).filter { case (k, v) => !before.get(k).contains(v) }
}
