package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scan: the engine reads only deployment settings from the
  * environment. An env override that forces one side of an adaptive
  * decision is a second code path nobody gates; a new read must be
  * added to `allowed` here, with its reason, on purpose.
  */
class EnvKnobsSpec extends AnyFunSuite {
  private val allowed = Map(
    "SPARK_GRAFT_CPUS" -> "deployment: local[N] cores for Session.local",
    "SPARK_GRAFT_SCRATCH_MIN_GB" -> "deployment: free-space floor for TmpDirs' tmpfs choice",
    "SPARK_GRAFT_GROWTH_LEGS" -> "GrowthProbe: which legs a decade ladder measures",
  )

  private val anyRead = """sys\.env\b|System\.getenv\b""".r
  private val namedRead =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([A-Za-z0-9_]+)"""".r

  private def sources: Seq[(Path, String)] = {
    val root = Paths.get(sys.props.getOrElse("user.dir", ".")).resolve("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found — launch tests from the repo root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("src/main reads exactly the three allowed env vars, each by literal name") {
    val srcs = sources
    val dynamic = srcs.collect {
      case (p, s) if anyRead.findAllIn(s).size != namedRead.findAllIn(s).size => p
    }
    assert(dynamic.isEmpty, s"env reads without a literal name in: $dynamic")
    val read = srcs.flatMap { case (_, s) => namedRead.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(read === allowed.keySet,
      s"unexpected: ${read -- allowed.keySet}; missing: ${allowed.keySet -- read}")
  }
}
