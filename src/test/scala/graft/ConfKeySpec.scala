package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Source guards on `src/main`.
  *
  * The `spark.graft.*` knobs: a key earns its place only where a test or
  * a measured crossover needs it, so every key `src/main` reads is on one
  * reviewed list, and every listed key is set by at least one spec or by
  * `Battery` (a key nothing sets is an untested constant).
  *
  * Doc blocks: Scaladoc keeps only the last of two back-to-back doc
  * blocks, so the first is silently dropped or read as the doc of the
  * wrong definition. */
class ConfKeySpec extends AnyFunSuite {

  private val allowed = Set(
    "spark.graft.index.isinMaxIds",
    "spark.graft.index.maxTombstones",
    "spark.graft.index.retainVersions",
    "spark.graft.ingest.maxProbeKeys",
    "spark.graft.pack.globalWindowMaxRows",
    "spark.graft.pairJoin.allPairsMargin",
    "spark.graft.pairJoin.allPairsMaxGroups",
    "spark.graft.pairJoin.broadcastMaxRows",
    "spark.graft.pairJoin.vocabDriverRankMaxTokens",
    "spark.graft.sq8.rangeCollectMax")

  private val key = """spark\.graft\.[a-zA-Z0-9]+\.[A-Za-z0-9]+""".r

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
    else Seq(f).filter(_.getName.endsWith(".scala"))

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("src/main names exactly the allowed spark.graft keys, each set by a spec or Battery") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root: ${main.getAbsolutePath}")
    val named = scalaFiles(main).flatMap(f => key.findAllIn(read(f))).toSet
    assert(named == allowed,
      s"new keys: ${(named -- allowed).toSeq.sorted.mkString(", ")}; " +
        s"listed but gone: ${(allowed -- named).toSeq.sorted.mkString(", ")}")
    val setters = (scalaFiles(new File("src/test/scala")).filterNot(_.getName == "ConfKeySpec.scala") ++
      scalaFiles(main).filter(_.getName == "Battery.scala")).map(read)
    val unset = allowed.filterNot { k =>
      val set = ("""\.set\(\s*"""" + java.util.regex.Pattern.quote(k) + "\"").r
      setters.exists(set.findFirstIn(_).isDefined)
    }
    assert(unset.isEmpty,
      s"keys no spec or Battery sets — make them constants: ${unset.toSeq.sorted.mkString(", ")}")
  }

  test("no two doc blocks stand back to back in src/main") {
    val backToBack = """\*/[ \t]*\n(?:[ \t]*\n)*[ \t]*/\*\*""".r
    val orphans = scalaFiles(new File("src/main/scala")).flatMap { f =>
      val src = read(f)
      backToBack.findAllMatchIn(src).map(m => s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(orphans.isEmpty,
      s"a doc block followed by another doc block (move it onto its definition): ${orphans.mkString(", ")}")
  }
}
