package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Ckpt.save]] is the operators' one checkpoint path: no other file
  * under `operators/` checkpoints or touches the checkpoint dir, and
  * [[Ckpt.iterate]] is their one checkpointed loop.
  */
class CheckpointPathTest extends AnyFunSuite {

  private val files = {
    val dir = Paths.get("src/main/scala/graft/operators")
    val all = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(all.exists(_.getFileName.toString == "Ckpt.scala"), dir)
    all.filter(_.getFileName.toString != "Ckpt.scala")
  }

  test("only Ckpt.scala checkpoints or names the checkpoint dir") {
    val offenders = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- Seq("localCheckpoint(", ".checkpoint(", "CheckpointDir",
        "checkpointDir") if line.contains(token)
    } yield s"${f.getFileName}:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no operator outside Ckpt.scala runs Ckpt.save in a while or for loop") {
    // a while/for header, then its block up to the first `}`
    val loop = """\b(?:while|for)\s*\([^{}]*\)\s*\{[^}]*Ckpt\.save""".r
    val offenders = for {
      f <- files
      src = new String(Files.readAllBytes(f), "UTF-8")
      m <- loop.findAllMatchIn(src)
    } yield s"${f.getFileName}:${src.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
