package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source lint over `src/main/scala`: deletion vectors apply through one
  * path. Every read of the log drops its victims inside the file scan, and
  * the library scan and the DSv2 reader load vectors through the same
  * loader, `Versioned.victimPositions`; no join, and no Spark read of the
  * sidecars, comes back.
  */
class DvLintSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
  private def src(parts: String*): String = Files.readString(Paths.get(root.toString, parts: _*))
  private def count(text: String, token: String): Int =
    text.sliding(token.length).count(_ == token)
  private lazy val versioned = src("graft", "merge", "Versioned.scala")
  private lazy val dsv2 = src("graft", "streaming", "VersionedStreamSource.scala")

  /** The body of `def name` in `text`: up to the next member at its indent. */
  private def body(text: String, name: String): String = {
    val start = text.indexOf(s"  def $name(")
    assert(start >= 0, s"no def $name")
    val end = text.indexOf("\n  /**", start)
    text.substring(start, if (end < 0) text.length else end)
  }

  test("Versioned.scala joins no deletion vector and reads no sidecar with spark.read") {
    Seq("antiJoinDv", "sidecarPositions", "__dvf", "__dvp", "RleDecodePositions").foreach(t =>
      assert(count(versioned, t) === 0, s"Versioned.scala still has $t"))
    // the only anti-joins left are the CDC key algebra's, over change sets
    val cdc = body(versioned, "changesByKey") + body(versioned, "applyChangesByKey")
    assert(count(versioned, "\"left_anti\"") === count(cdc, "\"left_anti\""))
    assert(versioned.linesIterator.filter(_.contains("spark.read"))
      .forall(l => !l.contains("Sidecar") && !l.contains("sidecar")))
  }

  test("the library scan and the DSv2 reader load vectors through one loader") {
    val sources = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
      finally s.close()
    }
    assert(sources.map(count(_, "def victimPositions(")).sum === 1)
    assert(count(versioned, "private[graft] def victimPositions(") === 1)
    // DvAlive, the scan's filter, and the DSv2 partition reader call it
    assert(count(versioned, "Versioned.victimPositions(read") === 1)
    assert(count(dsv2, "Versioned.victimPositions(") === 1)
    // one sidecar reader for both
    assert(count(dsv2, "Versioned.sidecarReader(spark)") === 1)
    assert(count(versioned, "vectors.toMap, sidecarReader(spark)") === 1)
    assert(sources.map(count(_, "SidecarSchema)")).sum === 1)
  }
}
