package graft.streamlog

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

import scala.jdk.CollectionConverters._

/** The local files made since [[LocalLeftovers.start]]: new `graft-*`
  * entries of the JVM's temp directory (segment spools, scratch
  * directories) and new entries directly inside such directories. A
  * bucket-rooted stream keeps its segments and its metadata log in its
  * stores, so for one [[made]] must stay empty. Compares against this
  * run's own snapshot, so what earlier runs left there does not count. */
final class LocalLeftovers private (before: Set[Path]) {
  def made: Set[Path] = LocalLeftovers.snapshot() -- before
}

object LocalLeftovers {
  def start(): LocalLeftovers = new LocalLeftovers(snapshot())

  private def ls(dir: Path): Set[Path] =
    try {
      val st = Files.list(dir)
      try st.iterator().asScala.toSet finally st.close()
    } catch { case _: NoSuchFileException => Set.empty }

  private def snapshot(): Set[Path] = {
    val ours = ls(Paths.get(sys.props("java.io.tmpdir")))
      .filter(_.getFileName.toString.startsWith("graft-"))
    ours ++ ours.filter(Files.isDirectory(_)).flatMap(ls)
  }
}
