package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source scans: rules about `src/main` that a test reads off the code. */
object SourceScan {

  /** `file:line` of every src/main/scala line matching `pattern`, outside
    * the files named in `allowed`. */
  def hits(pattern: String, allowed: Set[String] = Set.empty): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val walked = Files.walk(root)
    try walked.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }
    finally walked.close()
  }
}
