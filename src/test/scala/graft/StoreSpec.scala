package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The persisted-store layout belongs to `graft.store.Store` alone: a
  * family that spells a layout name itself re-implements part of the
  * commit protocol (a pointer read, a params path, an epoch file) that
  * the store's crash and fencing guarantees no longer cover. */
class StoreSpec extends AnyFunSuite {

  private val LayoutNames = Seq("_params", ".ptr", ".epoch", ".gtmp", ".atmp")

  test("store layout names appear only under graft/store") {
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root), s"run from the repo root (no $root)")
    val owner = root.resolve("graft/store")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val offenders = for {
      f <- files if !f.startsWith(owner)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- LayoutNames if line.contains(name)
    } yield s"$f:${i + 1}: $name"
    assert(offenders.isEmpty,
      "layout names outside graft/store (go through Store instead):\n" +
        offenders.mkString("\n"))
  }
}
