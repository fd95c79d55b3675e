package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the program's environment surface: the exact set of variables
  * `src/main/scala` reads. Every knob doubles the configurations tests
  * must cover, so a new one has to be added to this list on purpose. */
class EnvKnobCensusSpec extends AnyFunSuite {

  val allowed = Set(
    "SPARK_GRAFT_CPUS",               // GraftSession: local[cores]
    "SPARK_GRAFT_SF_DIR",             // Bench: fixture dir
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", // Verify, IterProbe: layout override
    "SPARK_GRAFT_NO_EDGE_PACK",       // GraphPack: EdgePackSpec-pinned escape
    "SPARK_GRAFT_STREAM_ONLY",        // Bench: stream block only
    "SPARK_GRAFT_STREAM_FLOOR",       // Bench: stream floor override
    "SCRATCH_EXPLAIN")                // Scratch: plan-smell audit mode

  test("src/main reads exactly the pinned environment variables") {
    val files: Seq[Path] = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val access = """sys\.env|System\.getenv""".r
    val literalRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val (names, dynamic) = files.foldLeft((Set.empty[String], Seq.empty[String])) {
      case ((ns, dyn), f) =>
        val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        val literal = literalRead.findAllMatchIn(text).map(_.group(1)).toSeq
        val reads = access.findAllMatchIn(text).size
        (ns ++ literal,
          if (reads == literal.size) dyn else dyn :+ f.toString)
    }
    assert(dynamic.isEmpty,
      s"environment read without a literal name in: ${dynamic.mkString(", ")}")
    assert(names === allowed,
      s"new=${(names -- allowed).toSeq.sorted.mkString(",")} " +
        s"gone=${(allowed -- names).toSeq.sorted.mkString(",")}")
  }
}
