package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BinaryKernel, UnaryKernel}

/** Census of the kernel classes over the `src/main` sources of
  * `graft.functions`: each one goes through the kernel template, each
  * one can be reached (from the SQL table in `GraftExtensions` or from a
  * Column builder), and README's `functions/` count and SQL list say
  * what the sources say. Adding a kernel means one case class on the
  * template and, if SQL needs it, one row in the table. */
class KernelCensusSpec extends AnyFunSuite {
  import KernelCensusSpec._

  test("every Expression in graft.functions goes through the kernel template") {
    assert(kernelClasses.nonEmpty, "src/main not found from the working directory")
    val handWritten = sources.collect {
      case (path, src) if !path.endsWith("/Kernel.scala") &&
          "def\\s+(doGenCode|nullSafeEval)\\b".r.findFirstIn(src).nonEmpty => path
    }
    assert(handWritten.isEmpty, s"doGenCode/nullSafeEval written outside the template: $handWritten")
    val outside = kernelClasses.filterNot(c =>
      classOf[UnaryKernel[_]].isAssignableFrom(c) || classOf[BinaryKernel[_, _]].isAssignableFrom(c))
    assert(outside.isEmpty, s"kernels outside the template: ${outside.map(_.getSimpleName)}")
  }

  test("every kernel is reachable from the SQL table or a Column builder") {
    val inTable = GraftExtensions.sqlFunctions.map(_._2).toSet[Class[_]]
    val built = sources.flatMap { case (_, src) =>
      "GraftSqlBridge\\.column\\(\\s*(\\w+)\\(".r.findAllMatchIn(src).map(_.group(1)) }.toSet
    val unreachable = kernelClasses.filterNot(c => inTable(c) || built(c.getSimpleName))
    assert(unreachable.isEmpty, s"kernels with no SQL name and no builder: " +
      unreachable.map(_.getSimpleName))
  }

  test("README counts the kernel classes and lists the SQL names of the table") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
      .replaceAll("\\s+", " ")
    assert(readme.contains(s"functions/ native kernels, ${kernelClasses.size} expression classes"),
      s"README's functions/ entry must say ${kernelClasses.size} expression classes")
    val sqlList = readme.split("spark\\.sql\\.extensions=graft\\.GraftExtensions", 2)(1)
      .takeWhile(_ != ')')
    val listed = "`(\\w+)`".r.findAllMatchIn(sqlList).map(_.group(1)).toList
    val names = GraftExtensions.sqlFunctions.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate SQL names: $names")
    assert(listed.sorted == names.sorted, s"README lists $listed, the table holds $names")
  }

  test("spark.sql resolves every name of the SQL table") {
    val names = GraftExtensions.sqlFunctions.map(_._1)
    val missing = names.filterNot(TestSpark.spark.catalog.functionExists)
    assert(names.size == 17 && missing.isEmpty, s"unresolved: $missing")
  }
}

object KernelCensusSpec {

  /** (path, text) of each source file of `graft.functions` in src/main. */
  lazy val sources: Seq[(String, String)] = {
    val files = Files.list(Paths.get("src/main/scala/graft/functions"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8")).toList
    finally files.close()
  }

  /** The case classes of `graft.functions` in src/main that are Catalyst
    * expressions: the kernels. */
  lazy val kernelClasses: Seq[Class[_]] = sources.flatMap { case (_, src) =>
    "(?m)^case class (\\w+)".r.findAllMatchIn(src).map(_.group(1)) }
    .map(n => Class.forName(s"graft.functions.$n"))
    .filter(classOf[Expression].isAssignableFrom)
    .sortBy(_.getSimpleName)
}
