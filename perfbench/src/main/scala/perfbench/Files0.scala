package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Local-filesystem helpers for the benchmark's own directories. */
object Files0 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { s =>
      s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }

  /** Every regular file under `p` with its size, keyed by relative path. */
  def sizes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Using.resource(Files.walk(p)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
    }

  /** Data files at the table root (not hidden, not Hadoop checksums). */
  def dataFiles(p: Path): Set[String] =
    Using.resource(Files.list(p)) { s =>
      s.iterator.asScala.map(_.getFileName.toString)
        .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet
    }
}
