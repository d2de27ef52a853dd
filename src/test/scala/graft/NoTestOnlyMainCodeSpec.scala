package graft

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds only code that its traffic runs: a query, a main, a
  * `GraftExtensions` binding or perfbench's `Driver`. A public `def`,
  * `object` or `class` under `src/main/scala/graft` whose name appears
  * nowhere in `src/main/scala` or `perfbench/src` but at its declarations
  * is code that only a test calls; it belongs in that test, or nowhere.
  *
  * The scan is by name over comment-free text (string literals count, so an
  * interpolated call or a class named in a conf value is a reference), so a
  * name that some other declaration shares passes for both. Exempt:
  *   - `override` members, which their supertype's callers reach;
  *   - `main`, `apply` and `unapply`, which the JVM or the compiler calls
  *     by convention;
  *   - an object that defines `main`, which `sbt runMain` names.
  */
class NoTestOnlyMainCodeSpec extends AnyFunSuite {
  private val exemptNames = Set("main", "apply", "unapply")

  private val Decl = ("""\b((?:(?:final|sealed|abstract|implicit|lazy|override|case|""" +
    """private|protected)(?:\[\w+\])?\s+)*)(def|object|class)\s+([A-Za-z_]\w*)""").r
  private val Ident = """[A-Za-z_]\w*""".r

  /** The text from the first `{` at or after `from` to its matching `}`:
    * an object's body, when `from` is the end of its declaration.
    */
  private def body(code: String, from: Int): String = {
    val open = code.indexOf('{', from)
    if (open < 0) return ""
    var depth = 0; var j = open
    while (j < code.length) {
      code.charAt(j) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return code.substring(open, j)
        case _ =>
      }
      j += 1
    }
    code.substring(open)
  }

  test("every public def, object and class under src/main/scala/graft has a main-side reference") {
    val refSources = MainSources.scalaFiles("src/main/scala") ++
      MainSources.scalaFiles("perfbench/src")
    val refs = refSources.flatMap { case (_, text) =>
      Ident.findAllIn(MainSources.code(text, keepStrings = true))
    }.groupMapReduce(identity)(_ => 1)(_ + _)

    // Declarations are read with string contents blanked, so SQL text
    // such as "... class ..." declares nothing.
    val decls = MainSources.scalaFiles("src/main/scala").flatMap { case (p, text) =>
      val code = MainSources.code(text, keepStrings = false)
      Decl.findAllMatchIn(code).map { m =>
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        (p, line, m.group(1), m.group(2), m.group(3), body(code, m.end))
      }
    }
    val declCount = decls.groupMapReduce(_._5)(_ => 1)(_ + _)

    val unreached = decls.collect {
      case (p, line, mods, kind, name, body)
          if p.toString.startsWith("src/main/scala/graft/") &&
            !mods.contains("private") && !mods.contains("protected") &&
            !mods.contains("override") && !exemptNames(name) &&
            !(kind == "object" && """\bdef\s+main\b""".r.findFirstIn(body).isDefined) &&
            refs.getOrElse(name, 0) <= declCount(name) =>
        s"$p:$line: $kind $name"
    }
    if (unreached.nonEmpty)
      fail("no query, main, GraftExtensions binding or perfbench Driver " +
        "reaches these; move each into the test that uses it, or delete it:\n" +
        unreached.mkString("\n"))
  }
}
