package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the only place main code opens a SparkSession:
  * a second `getOrCreate()` would be a second copy of the session
  * shape, free to drift from it. */
class GraftSessionSpec extends AnyFunSuite {

  test("no main source outside GraftSession opens a session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    val sources =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    val factory = root.resolve("graft/GraftSession.scala")
    val offenders = sources.filter(_ != factory).filter { p: Path =>
      Files.readString(p).contains(".getOrCreate()")
    }
    assert(offenders.isEmpty,
      s"open sessions through graft.GraftSession instead: " +
        offenders.mkString(", "))
    assert(sources.contains(factory), "the session factory moved")
  }
}
