package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source lint over `src/main/scala`: every session is built by
  * [[GraftSession]], and library calls leave the session's conf alone.
  */
class SessionLintSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private lazy val sources: Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }

  private def count(text: String, token: String): Int =
    text.sliding(token.length).count(_ == token)

  /** The files that contain `token`, with their occurrence counts. */
  private def uses(token: String): Map[String, Int] =
    sources.map { case (f, t) => f -> count(t, token) }.filter(_._2 > 0)

  test("exactly one SparkSession.builder(), in GraftSession.scala") {
    assert(sources.nonEmpty, s"no sources under $root")
    assert(uses("SparkSession.builder()") === Map("graft/GraftSession.scala" -> 1))
  }

  test("no .conf.set( but Streaming.withAdaptiveStatePartitions and ProfileOne's overrides") {
    val streaming = "graft/streaming/Streaming.scala"
    val profiler = "graft/tools/ProfileOne.scala"
    val found = uses(".conf.set(")
    assert(found.keySet -- Set(streaming, profiler) === Set.empty)
    // the streaming override sets and restores inside that one method
    val text = sources(streaming)
    val start = text.indexOf("def withAdaptiveStatePartitions")
    val body = text.substring(start, text.indexOf("\n  def ", start + 1))
    assert(count(body, ".conf.set(") === found(streaming))
    // the profiler applies SPARK_GRAFT_EXTRA to the session it built, once
    assert(found.getOrElse(profiler, 0) <= 1)
  }
}
