package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rules read off the main sources themselves. */
class SourceRulesSpec extends AnyFunSuite {

  /** `path:line: text` of every line of a Scala file under `dir` that
    * `bad` accepts.
    */
  private def hits(dir: String)(bad: String => Boolean): Seq[String] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    for {
      f <- files(root) if f.getName.endsWith(".scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if bad(line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("no catch clause under src/main/scala catches Throwable") {
    val throwable = """case\s+\w+\s*:\s*(java\.lang\.)?Throwable\b""".r
    val found = hits("src/main/scala")(throwable.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, s"catch NonFatal(_) instead:\n${found.mkString("\n")}")
  }

  test("no query decides how a relation is pinned or released") {
    val pins = Seq("localCheckpoint(", ".persist(", ".cache()", "SessionMemo",
      "AutoUnpersist", "MemoCatalog.")
    val found = hits("src/main/scala/graft/queries")(line => pins.exists(line.contains))
    assert(found.isEmpty,
      s"pin through graft.Reuse (query, within or session) instead:\n${found.mkString("\n")}")
  }
}
