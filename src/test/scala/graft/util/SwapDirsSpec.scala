package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The table-directory swap, Spark-free on Hadoop's local filesystem:
  * each test replaces a directory holding one text file. */
class SwapDirsSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def freshLive(): Path =
    new Path(Files.createTempDirectory("swapdirs").toString, "live")

  private def sib(live: Path, suffix: String) = new Path(live.toString + suffix)

  private def put(dir: Path, text: String): Unit =
    Files.write(Paths.get(dir.toString, "part"), text.getBytes(UTF_8))

  private def read(dir: Path): String =
    new String(Files.readAllBytes(Paths.get(dir.toString, "part")), UTF_8)

  private def writing(text: String): Path => Unit = { dir =>
    fs.mkdirs(dir); put(dir, text)
  }

  test("the first replace creates live") {
    val live = freshLive()
    SwapDirs.replace(fs, live)(writing("v1"))
    assert(read(live) === "v1")
  }

  test("a second replace swaps in the new copy and leaves neither __next " +
      "nor __old") {
    val live = freshLive()
    SwapDirs.replace(fs, live)(writing("v1"))
    SwapDirs.replace(fs, live)(writing("v2"))
    assert(read(live) === "v2")
    assert(!fs.exists(sib(live, "__next")) && !fs.exists(sib(live, "__old")))
  }

  test("a write that throws leaves live byte-identical and no __next") {
    val live = freshLive()
    SwapDirs.replace(fs, live)(writing("v1"))
    val boom = intercept[IllegalStateException] {
      SwapDirs.replace(fs, live) { next =>
        writing("partial")(next)
        throw new IllegalStateException("write failed")
      }
    }
    assert(boom.getMessage === "write failed")
    assert(read(live) === "v1")
    assert(fs.listStatus(live).map(_.getPath.getName).toSet === Set("part"))
    assert(!fs.exists(sib(live, "__next")))
  }

  test("with live only at __old, write runs after the heal and sees the " +
      "prior content") {
    val live = freshLive()
    SwapDirs.replace(fs, live)(writing("v1"))
    assert(fs.rename(live, sib(live, "__old")))
    SwapDirs.replace(fs, live)(next => writing(read(live) + "+v2")(next))
    assert(read(live) === "v1+v2")
    assert(!fs.exists(sib(live, "__old")))
  }

  test("readable names __old only while live is absent") {
    val live = freshLive()
    val old = sib(live, "__old")
    assert(SwapDirs.readable(fs, live) === live) // neither exists
    SwapDirs.replace(fs, live)(writing("v1"))
    assert(SwapDirs.readable(fs, live) === live)
    assert(fs.rename(live, old))
    assert(SwapDirs.readable(fs, live) === old)
    writing("v2")(live) // a crashed delete: __old beside a complete live
    assert(SwapDirs.readable(fs, live) === live)
  }
}
