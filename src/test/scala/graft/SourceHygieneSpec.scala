package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: every .scala file under src/ must be plain text —
  * no control bytes (NUL, etc.) outside tab/LF/CR. A raw NUL in a string
  * literal makes the file binary to grep and to git diff/blame (it has
  * slipped in twice via a "\u0000" key-separator written unescaped);
  * this spec makes the escape form the only way to express one.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isDirectory).flatMap(scalaFiles) ++
      kids.filter(f => f.isFile && f.getName.endsWith(".scala"))
  }

  test("no control bytes in any src/**/*.scala") {
    val root = new java.io.File("src")
    assert(root.isDirectory, s"expected to run from the repo root; cwd=${new java.io.File(".").getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bad = bytes.zipWithIndex.collect {
        case (b, i) if (b >= 0 && b < 32) && b != 9 && b != 10 && b != 13 =>
          val line = bytes.take(i).count(_ == 10.toByte) + 1
          f"${f.getPath}:$line byte 0x$b%02x"
      }
      bad.take(3)
    }
    assert(offenders.isEmpty,
      "control bytes found (write them as escapes like \"\\u0000\"):\n" + offenders.mkString("\n"))
  }

  test("no Hadoop listFiles(_, recursive) in src/main outside FileListing") {
    // a recursive listFiles wraps every file in a LocatedFileStatus, which
    // forks one `ls` per file on the local filesystem; FileListing is the
    // fork-free walk every stamp and file scan goes through
    val call = """listFiles\(.*,\s*(true|false)\s*\)""".r
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"expected to run from the repo root; cwd=${new java.io.File(".").getAbsolutePath}")
    val offenders = scalaFiles(root)
      .filterNot(_.getName == "FileListing.scala")
      .flatMap { f =>
        val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).split("\n")
        lines.zipWithIndex.collect {
          case (l, i) if call.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty,
      "use graft.FileListing instead of Hadoop listFiles:\n" + offenders.mkString("\n"))
  }
}
