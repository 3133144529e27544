package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: a second builder lets the
  * tested, benched and verified session setups drift apart. */
class SessionFactorySpec extends AnyFunSuite {

  test("only GraftSession.scala calls the SparkSession builder") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val callers = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(callers.map(_.getFileName.toString) === Seq("GraftSession.scala"))
  }
}
