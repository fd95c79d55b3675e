package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one part-file commit: attempts stage under the output dir, the
  * commit moves the named attempt into place and sweeps the rest. */
class StagedPartsSpec extends AnyFunSuite {

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet

  private def stage(staged: StagedParts, name: String, text: String): Unit = {
    val w = staged.open(name)
    try w.write(text) finally w.close()
  }

  test("two attempts of one partition: the commit keeps the named one, " +
    "deletes the other and the staging dir") {
    val dir = Files.createTempDirectory("graft-staged").toString
    val staged = StagedParts.begin(dir)
    val first = StagedParts.attemptName(0L, 0, 7L)
    val second = StagedParts.attemptName(0L, 0, 8L)
    assert(first !== second)
    stage(staged, first, "first\n")
    stage(staged, second, "second\n")
    assert(names(dir) === Set(staged.staging))

    staged.commit(Seq(second -> "part-00000"), replace = false)
    assert(names(dir) === Set("part-00000"))
    assert(new String(Files.readAllBytes(Paths.get(dir, "part-00000")),
      StandardCharsets.UTF_8) === "second\n")
  }

  test("a sweep scoped to one epoch keeps the others' attempts; abort " +
    "removes the staging dir") {
    val dir = Files.createTempDirectory("graft-staged-epoch").toString
    val staged = StagedParts.begin(dir)
    val e1 = StagedParts.attemptName(1L, 0, 1L)
    val e2 = StagedParts.attemptName(2L, 0, 2L)
    stage(staged, e1, "a\n")
    stage(staged, e2, "b\n")
    staged.commit(Seq(e1 -> "part-00001-00000"), replace = true,
      prefix = StagedParts.epochPrefix(1L))
    assert(names(dir) === Set("part-00001-00000", staged.staging))
    assert(names(Paths.get(dir, staged.staging).toString) === Set(e2))
    staged.sweep()
    assert(names(dir) === Set("part-00001-00000"))
    staged.sweep() // idempotent once the dir is gone
  }

  test("a commit without replace refuses to clobber an existing part") {
    val dir = Files.createTempDirectory("graft-staged-noreplace").toString
    Files.write(Paths.get(dir, "part-00000"), "old\n".getBytes)
    val staged = StagedParts.begin(dir)
    val a = StagedParts.attemptName(0L, 0, 1L)
    stage(staged, a, "new\n")
    intercept[java.nio.file.FileAlreadyExistsException](
      staged.commit(Seq(a -> "part-00000"), replace = false))
    assert(new String(Files.readAllBytes(Paths.get(dir, "part-00000"))) === "old\n")
  }
}
