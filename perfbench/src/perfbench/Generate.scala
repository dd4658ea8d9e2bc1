package perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions

/** Writes a corpus: `perfbench.Generate <bench|tiny> <dir>`. The tables are
  * written next to `dir` and renamed into place last, so an interrupted run
  * never leaves a partial corpus that looks complete.
  */
object Generate {
  def main(args: Array[String]): Unit = {
    val spec = Corpus.Specs.getOrElse(args(0), sys.error(s"unknown corpus ${args(0)}"))
    val dir = Paths.get(args(1)).toAbsolutePath
    val staging = dir.resolveSibling(dir.getFileName.toString + ".partial")
    Corpus.deleteTree(staging)
    val spark = Sessions.local("2")
    try Corpus.write(spark, spec, staging) finally spark.stop()
    Files.move(staging, dir)
  }
}
