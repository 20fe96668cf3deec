package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

import graft.ql.{Shell, ShellMain}
import graft.store.GraphStore

/** Drives a full REPL session transcript through [[ShellMain.runRepl]]
  * without a TTY — the reference shell's interactive loop
  * (apps/tundra_shell.cpp:1900+: prompt, history, dot-commands,
  * per-statement errors that do NOT kill the session).
  */
class ShellMainSpec extends SparkSpec {

  private def session(input: String): (Int, String) = {
    val shell = new Shell(new GraphStore(spark))
    val out = new ByteArrayOutputStream()
    val n = ShellMain.runRepl(shell,
      new BufferedReader(new StringReader(input)),
      new PrintStream(out, true, "UTF-8"))
    (n, out.toString("UTF-8"))
  }

  test("transcript: DDL, multi-line statement, results, history, .quit") {
    val (n, out) = session(
      """CREATE SCHEMA User (name: STRING, age: INT64);
        |CREATE NODE User (name = "Alice", age = 30);
        |CREATE NODE User (name = "Bob", age = 25);
        |MATCH (u:User)
        |  WHERE u.age > 26
        |  SELECT u.name;
        |.history
        |.quit
        |""".stripMargin)
    assert(n === 4) // 4 statements; dot-commands don't enter history
    assert(out.contains("graft> "))
    assert(out.contains("   ...> "), "multi-line continuation prompt")
    assert(out.contains("ok"), "DDL acknowledges")
    assert(out.contains("Alice") && !out.contains("| Bob"),
      "filtered MATCH rows rendered")
    assert(out.contains("1 row(s)"))
    assert(out.contains("1  CREATE SCHEMA User"), "history is numbered")
  }

  test("a failing statement reports and the session continues") {
    val (n, out) = session(
      """CREATE NODE Ghost (name = "x");
        |CREATE SCHEMA User (name: STRING);
        |.quit
        |""".stripMargin)
    assert(n === 1, "only the successful statement enters history")
    assert(out.contains("error: "), "failure reported inline")
    assert(out.split("graft> ").length > 2, "prompt came back after error")
  }

  test(".run executes a script file and reports the counts") {
    val f = tmpFile("graft_repl", ".tql")
    java.nio.file.Files.writeString(f,
      """CREATE SCHEMA User (name: STRING);
        |CREATE NODE User (name = "Alice");
        |CREATE NODE Ghost (name = "x");
        |""".stripMargin)
    val (_, out) = session(s".run $f\n.quit\n")
    assert(out.contains("script: 2 executed, 1 failed"))
  }

  test("EOF ends the loop like .quit") {
    val (n, out) = session("CREATE SCHEMA User (name: STRING);\n")
    assert(n === 1)
    assert(out.contains("ok"))
  }
}
