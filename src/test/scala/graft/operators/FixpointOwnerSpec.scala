package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Fixpoint]] as the one owner of the round loop's machinery:
  * an engine that builds its own rotation, announces its own rounds,
  * persists its own setup relation or sets its own shuffle layout
  * escapes the driver's contracts, and a frontier engine that counts
  * with a job of its own pays a probe per round. */
class FixpointOwnerSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/operators")
  private val sources: Map[String, String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      f.getFileName.toString -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
    }.toMap
    finally s.close()
  }

  test("only Fixpoint and LineageCut own cuts, announcements, persists and layout") {
    val owned = Seq("new LineageCut", "announceRound(", ".persist(",
      "spark.sql.shuffle.partitions")
    val found = for {
      (file, text) <- sources.toSeq
      if file != "Fixpoint.scala" && file != "LineageCut.scala"
      pattern <- owned if text.contains(pattern)
    } yield s"$file: $pattern"
    assert(found.isEmpty, s"round-driver machinery outside Fixpoint: ${found.mkString(", ")}")
  }

  test("frontier engines count on their cuts, not with a job") {
    // the one allowed job: Bfs's cap-hit truncation check for
    // requireExhausted callers, which runs only when the cap fires
    val allowed = Map("Bfs.scala" -> 1)
    val engines = Seq("Bfs.scala", "Sssp.scala", "ConnectedComponents.scala",
      "LabelPropagation.scala", "KCore.scala")
    val found = engines.flatMap { file =>
      val n = """\.count\(\)""".r.findAllMatchIn(sources(file)).size
      if (n > allowed.getOrElse(file, 0)) Some(s"$file: $n") else None
    }
    assert(found.isEmpty, s".count() jobs in frontier engines: ${found.mkString(", ")}")
    assert(sources("Bfs.scala").contains("requireExhausted && !exhausted"),
      "Bfs's allowed .count() is the requireExhausted check; it moved")
  }
}
