package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rules read off the main sources themselves. */
class SourceRulesSpec extends AnyFunSuite {

  test("no catch clause under src/main/scala catches Throwable") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val throwable = """case\s+\w+\s*:\s*(java\.lang\.)?Throwable\b""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if throwable.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"catch NonFatal(_) instead:\n${hits.mkString("\n")}")
  }
}
