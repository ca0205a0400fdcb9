package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source gate for the decisions that must live in ONE place: all
  * driver-side concurrency goes through `Par.overlap` (cancellable,
  * job-tagged, structured), every `graft_*` scratch name comes from
  * `Artifacts` (whose dead-session GC parses that format back), and a
  * versioned store's files become a DataFrame only through
  * `SnapshotStore.scanFiles` (manifest-planned, recorded schema) — the
  * store sources hold no DataFrameReader at all. File reads only, no
  * Spark. */
class SourceGuardSpec extends AnyFunSuite {

  private val mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  /** `file:line` for each line of a non-exempt main source matching `re`. */
  private def hits(re: String, exempt: (Path, String) => Boolean): Seq[String] = {
    val r = re.r
    mainSources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if r.findFirstIn(line).isDefined && !exempt(p, line) =>
          s"$p:${i + 1}"
      }
    }
  }

  test("Future/Await/ExecutionContext appear only in Par.scala") {
    assert(mainSources.nonEmpty)
    val found = hits(
      raw"scala\.concurrent|\b(Await|ExecutionContext)\b|\bFuture\s*[({.\[]",
      (p, _) => p.getFileName.toString == "Par.scala")
    assert(found.isEmpty, "overlap Spark actions with graft.engine.Par.overlap: " +
      found.mkString(", "))
  }

  test("java.io.tmpdir appears only in Artifacts and MlQueries.scoredDir") {
    val found = hits(raw"java\.io\.tmpdir", (p, line) =>
      p.getFileName.toString == "Artifacts.scala" ||
        (p.getFileName.toString == "MlQueries.scala" &&
          line.contains("/graft_mlscored/")))
    assert(found.isEmpty, "build scratch dirs with graft.engine.Artifacts." +
      "scratch: " + found.mkString(", "))
  }

  test("the store sources hold no DataFrameReader") {
    val stores =
      Set("SnapshotStore.scala", "ClusteredStore.scala", "ZOrder.scala")
    val found = hits(raw"\.read\b(?!\s*\()",
      (p, _) => !stores(p.getFileName.toString))
    assert(mainSources.count(p => stores(p.getFileName.toString)) == 3)
    assert(found.isEmpty, "plan store reads with SnapshotStore.scan / " +
      "scanFiles, not a DataFrameReader: " + found.mkString(", "))
  }
}
