package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Plain-text scans over the main sources, for guard specs that pin a
  * pattern out of the code base. */
object SourceScan {

  val mainRoot: Path = Paths.get("src/main/scala")

  def scalaFiles(under: Path): Seq[Path] = {
    assert(Files.isDirectory(under), s"source root $under not found")
    val s = Files.walk(under)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Files under `under` (relative to `mainRoot`, sorted) whose text
    * satisfies `hit`. */
  def filesWhere(under: Path)(hit: String => Boolean): Seq[String] =
    scalaFiles(under).filter(f => hit(Files.readString(f)))
      .map(f => mainRoot.relativize(f).toString).sorted

  def filesContaining(under: Path, needles: String*): Seq[String] =
    filesWhere(under)(text => needles.exists(text.contains))
}
