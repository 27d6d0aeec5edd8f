package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-tree guards, run from the repository root: every Scala file
  * stays plain text that grep and ripgrep search, and the eager stage
  * barrier keeps its one spelling in `graft.ops.CheckpointRotation`. */
class SourceScanSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$dir not found: run from the repository root")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no Scala source contains a NUL byte") {
    val hits = scalaFiles("src").filter(p => Files.readAllBytes(p).contains(0.toByte))
    assert(hits.isEmpty, s"NUL bytes (write \\u0000 instead) in: ${hits.mkString(", ")}")
  }

  test("localCheckpoint( is spelled only in graft/ops/CheckpointRotation.scala") {
    val home = Paths.get("src/main/scala/graft/ops/CheckpointRotation.scala")
    def spells(p: Path) = new String(Files.readAllBytes(p), UTF_8).contains("localCheckpoint(")
    val files = scalaFiles("src/main")
    assert(files.contains(home) && spells(home))
    val hits = files.filter(p => p != home && spells(p))
    assert(hits.isEmpty,
      s"raw localCheckpoint( outside CheckpointRotation (use lockedCheckpoint()): ${hits.mkString(", ")}")
  }
}
