package graft.functions

import graft.plans.{GraftExtensions, SketchAgg, SketchFn}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** Graft's SQL function names: each registered once, none shadowing a
  * Spark built-in (registering over one silently changes what the
  * built-in name means in the session), and README's "Sketch SQL
  * surface" list naming exactly the registered functions. */
class FunctionNamesSpec extends AnyFunSuite {

  private val names: Seq[String] =
    (GraftExtensions.functions ++ SketchAgg.sqlDescriptors ++ SketchFn.sqlDescriptors)
      .map(_._1.funcName)

  test("every graft SQL name is registered once") {
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, repeated)
  }

  test("no graft SQL name shadows a Spark built-in") {
    val shadowed = names.filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowed.isEmpty, shadowed)
  }

  test("README's SQL surface lists exactly the registered functions") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try readme.mkString finally readme.close()
    val start = text.indexOf("Sketch SQL surface: `")
    assert(start >= 0, "README has no SQL surface list")
    val from = text.indexOf('`', start) + 1
    val listed = text.substring(from, text.indexOf('`', from))
      .replaceAll("""\([^)]*\)""", " ").split("""[\s·]+""").filter(_.nonEmpty).toSeq
    assert(listed.diff(names).isEmpty, "listed but not registered")
    assert(names.diff(listed).isEmpty, "registered but not listed")
    assert(listed.distinct.size === listed.size, "listed twice")
  }
}
