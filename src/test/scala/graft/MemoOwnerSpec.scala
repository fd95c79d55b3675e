package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Caches` as the one owner of cross-query state: a memo keyed
  * by session anywhere else is invisible to `Caches.sweep`, and its
  * blocks accumulate for the session's lifetime. New memos go through
  * `Caches.memo`; checkpoint lookups through `Caches.checkpointRdd`. */
class MemoOwnerSpec extends AnyFunSuite {

  private val sources: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    finally s.close()
  }
  private def outsideCaches(pattern: scala.util.matching.Regex): Seq[String] =
    sources.collect {
      case (f, text) if f.getFileName.toString != "Caches.scala" &&
          pattern.findFirstIn(text).isDefined => f.toString
    }

  test("no session-keyed TrieMap outside Caches.scala") {
    val sessionKeyed =
      """TrieMap\s*(?:\.\s*empty\s*)?\[\s*\(?\s*(?:[\w.]*\.)?SparkSession\b""".r
    val found = outsideCaches(sessionKeyed)
    assert(found.isEmpty,
      s"session-keyed memo outside Caches.memo in: ${found.mkString(", ")}")
  }

  test("no LogicalRDD lookup outside Caches.checkpointRdd") {
    val lookup = """collectFirst\s*\{\s*case\s+\w+\s*:\s*(?:[\w.]*\.)?LogicalRDD\b""".r
    val found = outsideCaches(lookup)
    assert(found.isEmpty,
      s"checkpoint-RDD lookup outside Caches.checkpointRdd in: ${found.mkString(", ")}")
  }
}
