package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every option the engine reads from the environment or the system
  * properties, listed on purpose: a new one must be added here. */
class OptionsSpec extends AnyFunSuite {
  private val Allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "GRAFT_NO_SHM",
    "GRAFT_PROFILE_PLAN", "DEBUG", "SPARK_MASTER", "graft.embed.broadcastMaxVectors")

  test("src/main reads exactly the listed env vars and system properties") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val read = "(sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)\\b(.*)".r
    val name = "\"([^\"]+)\"".r
    val walked = java.nio.file.Files.walk(root)
    val found =
      try walked.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala")).flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          read.findAllMatchIn(line).map { m =>
            // an option read without a literal name cannot be listed
            name.findFirstMatchIn(m.group(2)).fold(s"$p:${i + 1} (no literal name)")(_.group(1))
          }
        }
      }.toSet
      finally walked.close()
    assert(java.nio.file.Files.isDirectory(root))
    assert(found == Allowed, s"unlisted: ${found -- Allowed}; listed but unread: ${Allowed -- found}")
  }
}
