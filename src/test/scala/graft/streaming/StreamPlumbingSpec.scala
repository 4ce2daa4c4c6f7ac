package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The stream plumbing has one copy: the replay driver, the staged
  * source, the pid-scoped scratch dir and the scoped shuffle width live
  * in [[StreamingQueries]] and nowhere else in `src/main`. A stream that
  * hand-rolls one of them again fails here. */
class StreamPlumbingSpec extends AnyFunSuite {

  private val home = Paths.get("src/main/scala/graft/streaming/StreamingQueries.scala")

  private val idioms = Seq("ProcessHandle.current().pid()",
    "\"maxFilesPerTrigger\"", ".foreachBatch",
    "conf.set(\"spark.sql.shuffle.partitions\"")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toList
    finally walk.close()
  }

  private def count(text: String, idiom: String): Int =
    text.sliding(idiom.length).count(_ == idiom)

  test("no src/main file but StreamingQueries hand-rolls stream plumbing") {
    assert(sources.exists(_._1 == home), s"$home moved?")
    val copies = for {
      (p, text) <- sources if p != home
      idiom <- idioms if text.contains(idiom)
    } yield s"$p: $idiom"
    assert(copies.isEmpty, copies.mkString("\n"))
  }

  test("StreamingQueries holds exactly one copy of each idiom") {
    val text = sources.collectFirst { case (`home`, t) => t }.get
    idioms.foreach(i => assert(count(text, i) == 1, i))
  }
}
