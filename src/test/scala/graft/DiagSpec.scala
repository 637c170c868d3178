package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The diagnostic CLI's argument handling, checked without starting a
  * session or exiting, and the docs' `runMain` lines checked against
  * the mains and commands that exist. */
class DiagSpec extends AnyFunSuite {

  private def cmd(name: String): Diag.Cmd = Diag.commands.find(_.name == name).get

  test("a missing or unknown command prints the command table") {
    val Left(none) = Diag.parse(Nil)
    assert(none.startsWith("usage: runMain graft.Diag <cmd>"), none)
    Diag.commands.foreach(c => assert(none.contains(c.usage), c.name))
    val Left(unknown) = Diag.parse(Seq("PlanSnap", "out", "r1", "a2_group_agg"))
    assert(unknown.startsWith("unknown command: PlanSnap\n"), unknown)
    assert(unknown.contains(cmd("plans").usage))
  }

  test("a wrong argument count or form prints that command's usage") {
    Diag.commands.foreach { c =>
      val bad = (0 to 4).find(n => !c.accepts(Seq.fill(n)("x")))
        .getOrElse(fail(s"${c.name} accepts any count"))
      assert(Diag.parse(c.name +: Seq.fill(bad)("x")) === Left(s"usage: ${c.usage}"), c.name)
    }
    // plans takes [sfDir] or <outDir> <suffix> <query...>, never two
    assert(Diag.parse(Seq("plans", "out", "r1")) === Left(s"usage: ${cmd("plans").usage}"))
    // a round count that is not a number is a usage error, not a crash
    assert(Diag.parse(Seq("profile-query", "a2_group_agg", "five")) ===
      Left(s"usage: ${cmd("profile-query").usage}"))
  }

  test("Verify names its usage instead of failing on the argument count") {
    assert(Diag.check(Verify.cmd, Seq("/root/testdata/sf0.01")) ===
      Left(s"usage: ${Verify.cmd.usage}"))
    assert(Diag.check(Verify.cmd, Seq("sf", "out")) === Right((Verify.cmd, Seq("sf", "out"))))
    assert(Diag.check(Verify.cmd, Seq("sf", "out", "a2_group_agg", "nope_q")) ===
      Left("unknown queries: nope_q"))
  }

  test("unknown query names are refused before any session starts") {
    Seq(Seq("bench-subset", "a2_group_agg", "nope_q"),
        Seq("plans", "out", "r1", "nope_q"),
        Seq("profile-query", "nope_q"),
        Seq("branch-audit", "sf", "out.json", "nope_q")).foreach { args =>
      assert(Diag.parse(args) === Left("unknown queries: nope_q"), args)
    }
    // plans' PLANS.md form takes an sf dir, not a query
    assert(Diag.parse(Seq("plans", "/root/testdata/sf0.001")).isRight)
  }

  test("each command keeps its session width") {
    def width(args: String*): String = {
      val Right((c, a)) = Diag.parse(args)
      c.width(a)
    }
    assert(width("plans") === "4")
    assert(width("stream-check") === "8")
    assert(width("recall") === "8")
    assert(width("branch-audit", "sf", "out.json") === "8")
    assert(width("bench-subset", "a2_group_agg") === "32")
    assert(width("profile-query") === "32")
    assert(Verify.cmd.width(Seq("sf", "out", "a2_group_agg")) === "8")
  }

  test("every documented runMain names a main, and every Diag command is in the table") {
    val tools = Files.list(Paths.get("tools")).iterator().asScala
      .filter(_.toString.endsWith(".py")).toSeq
    val docs = Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md")) ++ tools
    val RunMain = """runMain\s+graft\.([\w.]*\w)(?:\s+([A-Za-z][\w-]*))?""".r
    val found = docs.flatMap { doc =>
      RunMain.findAllMatchIn(Files.readString(doc)).map(m => (doc, m.group(1), Option(m.group(2))))
    }
    assert(found.exists(_._2 == "Diag"), "no documented Diag command found")
    found.foreach { case (doc, obj, sub) =>
      val main = scala.util.Try(Class.forName(s"graft.$obj").getMethod("main", classOf[Array[String]]))
      assert(main.isSuccess, s"$doc: runMain graft.$obj has no main")
      // a bare `graft.Diag` prints the table; a named command must exist
      if (obj == "Diag")
        assert(sub.forall(s => Diag.commands.exists(_.name == s)),
          s"$doc: runMain graft.Diag ${sub.mkString} is not a Diag command")
    }
  }
}
