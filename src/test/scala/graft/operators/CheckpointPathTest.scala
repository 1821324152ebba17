package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Ckpt.save]] is the operators' one checkpoint path: no other file
  * under `operators/` checkpoints or touches the checkpoint dir.
  */
class CheckpointPathTest extends AnyFunSuite {

  test("only Ckpt.scala checkpoints or names the checkpoint dir") {
    val dir = Paths.get("src/main/scala/graft/operators")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.getFileName.toString == "Ckpt.scala"), dir)
    val offenders = for {
      f <- files if f.getFileName.toString != "Ckpt.scala"
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- Seq("localCheckpoint(", ".checkpoint(", "CheckpointDir",
        "checkpointDir") if line.contains(token)
    } yield s"${f.getFileName}:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
