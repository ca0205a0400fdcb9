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
  * store sources hold no DataFrameReader at all — a bucketed store
  * write's task width is set only in `SnapshotStore.writeBuckets`, and
  * the store is the only bucketed layout: nothing writes a catalog
  * table. File reads only, no Spark. */
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

  test("no saveAsTable or bucketBy: bucketed data is a store") {
    val found = hits(raw"\.\s*(saveAsTable|bucketBy)\s*\(", (_, _) => false)
    assert(found.isEmpty, "publish bucketed data with SnapshotStore." +
      "publishBucketed or Artifacts.publishView: " + found.mkString(", "))
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

  test("the store sources repartition on _bucket only in writeBuckets") {
    // a `.repartition(...)` call's arguments, up to three levels of nested
    // parens, over any number of lines
    val args = raw"(?:[^()]|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*"
    val call = raw"\.repartition\(($args)\)".r
    val sources = mainSources.filter(_.getParent.endsWith(
      Paths.get("graft", "engine", "sources")))
    val found = sources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val lines = text.split("\n", -1).toSeq
      // the helper's body: from its `def` to the next member's doc or def
      val start = lines.indexWhere(_.contains("def writeBuckets("))
      val end = lines.indexWhere(
        l => l.trim.startsWith("/**") || l.trim.matches("(private\\S* )?def .*"),
        start + 1)
      call.findAllMatchIn(text).toSeq.filter(_.group(1).contains("_bucket"))
        .map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          (p, line, start >= 0 && line > start && line < end)
        }
    }
    assert(sources.size >= 6)
    val outside = found.filterNot(_._3).map { case (p, l, _) => s"$p:${l + 1}" }
    assert(outside.isEmpty, "write bucketed store data through " +
      "SnapshotStore.writeBuckets (one width policy): " + outside.mkString(", "))
    assert(found.count(_._3) == 1,
      "SnapshotStore.writeBuckets must hold the one _bucket repartition")
  }
}
