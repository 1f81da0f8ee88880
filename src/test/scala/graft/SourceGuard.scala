package graft

import scala.jdk.CollectionConverters._

/** Source scans for the guard specs: which files under `src/main` call
  * what a seam owns.
  */
object SourceGuard {

  /** Matches of `re` per source file under src/main (paths relative to
    * src/main/scala), comment lines and trailing `// ...` comments ignored.
    */
  def calls(re: scala.util.matching.Regex): Map[String, Int] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files
      .walk(root)
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val code = java.nio.file.Files
          .readAllLines(p)
          .asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
          .map(_.replaceAll("""\s//\s.*$""", ""))
        root.relativize(p).toString -> code.map(re.findAllIn(_).size).sum
      }
      .filter(_._2 > 0)
      .toMap
  }
}
