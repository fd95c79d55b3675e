package graft.sources

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

/** The one part-file commit of the line-dir data model: the MapReduce
  * sink ([[graft.mr.MapReduceJob.writePartFiles]]) and the linedir
  * connector's batch and streaming sinks all go through it.
  *
  * Each task attempt writes its lines to its own file in a hidden
  * staging dir, `<dir>/.staging-<uuid>/`, named by
  * [[StagedParts.attemptName]]. The driver, once every task has
  * reported, moves the attempts it was handed to their part names and
  * sweeps the rest: the reference's finished-file move into the output
  * dir (manager/__main__.py:358-361; worker/__main__.py:183-185), made
  * safe for retried and speculative attempts on any filesystem that
  * driver and executors share. Failed or superseded attempts never
  * become visible, and nothing is staged outside `dir`.
  */
private[graft] final case class StagedParts(dir: String, staging: String) {
  private def stagingDir: Path = Paths.get(dir, staging)

  /** Task side: a UTF-8 writer on the staged file `name`. Creates the
    * staging dir if a sweep removed it (streaming sinks reuse one
    * staging name across epochs). */
  def open(name: String): BufferedWriter = {
    Files.createDirectories(stagingDir)
    Files.newBufferedWriter(stagingDir.resolve(name), StandardCharsets.UTF_8)
  }

  /** Task side: drop an attempt that will not be committed. */
  def discard(name: String): Unit = Files.deleteIfExists(stagingDir.resolve(name))

  /** Driver side: move each `(staged, part)` into `dir` — over an
    * existing file only if `replace`, so an append that races another
    * fails loudly — then [[sweep]] `prefix`. */
  def commit(moves: Seq[(String, String)], replace: Boolean,
      prefix: String = ""): Unit = {
    val out = Paths.get(dir)
    val opts =
      if (replace) Seq(StandardCopyOption.REPLACE_EXISTING) else Seq.empty
    moves.foreach { case (staged, part) =>
      Files.move(stagingDir.resolve(staged), out.resolve(part), opts: _*)
    }
    sweep(prefix)
  }

  /** Delete the staged files whose names start with `prefix` (every one
    * by default), then the staging dir once it is empty. Also the abort
    * path. */
  def sweep(prefix: String = ""): Unit =
    if (Files.exists(stagingDir)) {
      LineDir.listDir(stagingDir) { it =>
        it.filter(_.getFileName.toString.startsWith(prefix))
          .foreach(Files.deleteIfExists)
      }
      if (LineDir.listDir(stagingDir)(!_.hasNext)) Files.deleteIfExists(stagingDir)
    }
}

private[graft] object StagedParts {
  /** A fresh staging dir name under `dir` (created by the first task). */
  def begin(dir: String): StagedParts =
    StagedParts(dir, s".staging-${UUID.randomUUID()}")

  /** Staged name of one task attempt: distinct attempts of one partition
    * never collide, and the `part-<epoch>-` prefix scopes a sweep. */
  def attemptName(epoch: Long, partition: Int, attempt: Long): String =
    f"${epochPrefix(epoch)}$partition%05d-attempt-$attempt"

  def epochPrefix(epoch: Long): String = f"part-$epoch%05d-"
}
