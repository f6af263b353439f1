package graft.queries

import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.TableIO

/** The ANN index cache serves an index only to the JVM that built it. */
class IndexCacheSpec extends AnyFunSuite {

  test("cachedIndex: a root another JVM left is rebuilt without its " +
    "stale partitions; a second call in this JVM does not rebuild") {
    val dir = Files.createTempDirectory("graft-cache").toString
    val root = new File("/tmp/graft_t_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val stale = new File(root, "t/bucket=999")
    try {
      assert(stale.mkdirs())
      Files.writeString(new File(root, "t.done").toPath, "another-jvm")
      var builds = 0
      def write(io: TableIO): Unit = {
        builds += 1
        assert(new File(io.path("t"), "bucket=1").mkdirs())
      }
      val io = Fixtures.cachedIndex(dir, "t")(write)
      assert(io.root == root.toString)
      assert(builds == 1 && !stale.exists())
      assert(new File(root, "t/bucket=1").isDirectory)
      Fixtures.cachedIndex(dir, "t")(write)
      assert(builds == 1)
    } finally {
      FileUtils.deleteDirectory(root)
      FileUtils.deleteDirectory(new File(dir))
    }
  }
}
