package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Bench's quiet-anchor file: concurrent min-merges lose no anchor and
  * leave no temp files behind. */
class BenchAnchorSpec extends AnyFunSuite {

  test("concurrent anchor merges keep every key at its minimum") {
    val dir = Files.createTempDirectory("graft_anchor")
    val path = dir.resolve("graft_floor_baseline.txt")
    val writes = for (k <- 0 until 8; v <- Seq(0.3, 0.1, 0.2))
      yield Future(Bench.mergeAnchor(path, s"tier$k", v + k))
    Await.result(Future.sequence(writes), 60.seconds)
    val anchors = Bench.readAnchors(path)
    assert(anchors == (0 until 8).map(k => s"tier$k" -> (0.1 + k)).toMap)
    val left = Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".tmp")).toVector
    assert(left.isEmpty, s"temp files left behind: $left")
  }

  test("the anchor lives in the per-user state dir, not tmpdir") {
    val p = Bench.anchorPath
    assert(p.getParent == java.nio.file.Paths.get(sys.props("user.home"),
      ".cache", "graft"))
    assert(!p.startsWith(java.nio.file.Paths.get(sys.props("java.io.tmpdir"))))
  }
}
