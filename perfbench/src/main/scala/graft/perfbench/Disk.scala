package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Byte accounting over a directory tree (space and write amplification). */
object Disk {
  /** (relative path → size) of every regular file under `root`. */
  def sizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .flatMap(p =>
          // a concurrent writer may remove a file between walk and stat
          try Some(root.relativize(p).toString -> Files.size(p))
          catch { case _: java.io.IOException => None })
        .toMap
    }

  def bytesUnder(root: Path): Long = sizes(root).values.sum

  /** Bytes in `after` that were not in `before` or changed size — the
    * bytes a maintenance op wrote, as seen from its tree. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
}
