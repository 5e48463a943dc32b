package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the operator layer: operators report through their
  * return values, never by printing or by reading the environment
  * (console output belongs to the `core` terminals). */
class OperatorLintSpec extends AnyFunSuite {
  test("operators: no println( and no sys.env in src/main/scala/graft/operators") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no operator sources under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files.sortBy(_.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      if line.contains("println(") || line.contains("sys.env")
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
