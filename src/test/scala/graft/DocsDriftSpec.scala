package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import TestSpark._

/** Docs ↔ code drift check. README.md / COVERAGE.md counts and tables were
  * hand-maintained, which means they rot silently; this spec diffs them
  * against the exported registries so a stage or oracle gate that is added,
  * renamed, or removed without a doc update fails CI by name instead of
  * waiting for a reviewer to notice.
  */
class DocsDriftSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)
  private lazy val coverage = read("COVERAGE.md")
  private lazy val readme = read("README.md")
  private lazy val mainSources: List[java.nio.file.Path] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally w.close()
  }

  test("stage registry matches the real dispatch (probed, fail-closed)") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    // a name the registry claims but apply doesn't handle would throw the
    // unknown-stage error; any OTHER validation error ("requires...") just
    // means the minimal body was insufficient, which is fine — the dispatch
    // arm exists. $documents ignores its input frame, so the generic body
    // works everywhere.
    graft.stages.StageTranslator.supportedStages.foreach { name =>
      val err = try { Aggo.aggregate(df, s"""[{"$name": {}}]""").collect(); None }
        catch { case e: Throwable => Some(e.getMessage + Option(e.getCause).map(_.getMessage).mkString) }
      assert(!err.exists(_.contains("unknown pipeline stage")),
        s"registry lists $name but dispatch does not handle it: $err")
    }
    // control: the probe must be able to SEE the unknown-stage error
    val ctl = intercept[Throwable] {
      Aggo.aggregate(df, """[{"$__nope": {}}]""").collect()
    }
    assert((ctl.getMessage + Option(ctl.getCause).map(_.getMessage).mkString)
      .contains("unknown pipeline stage"))
  }

  test("every supported stage is documented in COVERAGE.md") {
    val missing = graft.stages.StageTranslator.supportedStages
      .filterNot(s => coverage.contains(s"`$s`") || coverage.contains(s + "`") ||
        coverage.contains(s + " ") || coverage.contains(s + ","))
    assert(missing.isEmpty, s"stages with no COVERAGE.md mention: ${missing.mkString(", ")}")
  }

  test("every oracle-gate name mentioned in the docs exists, and every gate is documented") {
    val gateNames = SparkEntry.queries.keySet
    val docTokens = ("""q_[a-z0-9_]+""".r.findAllIn(coverage) ++
      """q_[a-z0-9_]+""".r.findAllIn(readme)).toSet
    // docs may name a FAMILY with a trailing-underscore wildcard (q_match_*
    // scans as "q_match_"): valid iff at least one gate carries the prefix
    def familyPrefix(t: String): Boolean = t.endsWith("_")
    // no stale references: a doc token naming a gate (or family) that no
    // longer exists
    val stale = docTokens.filter {
      case t if familyPrefix(t) => !gateNames.exists(_.startsWith(t))
      case t                    => !gateNames.contains(t)
    }
    assert(stale.isEmpty, s"docs reference nonexistent gates: ${stale.toSeq.sorted.mkString(", ")}")
    // no undocumented gates: every queries entry appears in the docs, either
    // by exact name or under a documented family wildcard
    val undocumented = gateNames.filterNot(g =>
      docTokens.contains(g) ||
        docTokens.exists(t => familyPrefix(t) && g.startsWith(t)))
    assert(undocumented.isEmpty,
      s"gates with no doc mention: ${undocumented.toSeq.sorted.mkString(", ")}")
  }

  test("ADVICE.md entries point at code and specs that still exist") {
    // an open-or-resolved advice entry naming a source file that has moved,
    // or citing a regression spec that was renamed away, misleads the next
    // round's reader — fail by name instead. Paths are any src/... token;
    // spec citations look like `SomeSpec "test name fragment..."`.
    val advicePath = java.nio.file.Paths.get("ADVICE.md")
    if (java.nio.file.Files.exists(advicePath)) {
      val advice = read("ADVICE.md")
      val paths = """src/[A-Za-z0-9_/.\-]+\.scala""".r.findAllIn(advice).toSet
      val gone = paths.filterNot(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      assert(gone.isEmpty, s"ADVICE.md names files that do not exist: ${gone.mkString(", ")}")
      // control: the path regex must actually be able to fail
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("src/__nope.scala")))
      val specCites = """([A-Za-z]+Spec) "([^".]+)""".r.findAllMatchIn(advice).toSeq
      val testDir = java.nio.file.Paths.get("src/test/scala/graft")
      specCites.foreach { m =>
        // advice may elide a long test name with a trailing ellipsis
        val (spec, frag) = (m.group(1), m.group(2).stripSuffix("…").trim)
        val src = testDir.resolve(s"$spec.scala")
        assert(java.nio.file.Files.exists(src), s"ADVICE.md cites missing spec file $spec")
        assert(read(src.toString).contains(frag),
          s"""ADVICE.md cites $spec "$frag..." but no such test exists there""")
      }
    }
  }

  test("every runMain in the docs names a main object that exists") {
    // a deleted or renamed tool leaves `runMain graft.<Name>` recipes
    // behind that fail only when someone pastes them — collect every
    // top-level object under src/main/scala with its package and diff
    val objects = mainSources.flatMap { f =>
      val text = read(f.toString)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text).map(_.group(1) + ".")
        .getOrElse("")
      """(?m)^object\s+(\w+)""".r.findAllMatchIn(text).map(pkg + _.group(1))
    }.toSet
    val mainRef = """runMain\s+(graft(?:\.[A-Za-z_]\w*)+)""".r
    val docs = Seq("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    val refs = docs.flatMap(d => mainRef.findAllMatchIn(read(d)).map(m => d -> m.group(1)))
    assert(refs.nonEmpty, "no runMain recipe found in the docs")
    val missing = refs.filterNot { case (_, name) => objects.contains(name) }
    assert(missing.isEmpty, s"docs name mains that do not exist: ${missing.mkString(", ")}")
    // control: the regex reads a recipe across a line break, and a name
    // with no object behind it fails the lookup
    val ctl = mainRef.findAllMatchIn("sbt \"runMain\n  graft.tools.__Nope arg\"").map(_.group(1)).toSeq
    assert(ctl == Seq("graft.tools.__Nope") && !objects.contains(ctl.head))
    assert(objects.contains("graft.Verify") && objects.contains("graft.tools.Smoke"))
  }

  test("every SPARK_GRAFT_* variable in the docs is read by some code") {
    // a deleted knob leaves `SPARK_GRAFT_X=1` recipes behind that silently
    // do nothing; a read is the name as a quoted literal (Scala/Python) or
    // a `$NAME` expansion (shell) in a source file
    def files(root: String): List[java.nio.file.Path] = {
      val p = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.filter(f =>
          Seq(".scala", ".py", ".sh").exists(f.toString.endsWith)).toList
        finally w.close()
      }
    }
    val code = Seq("src", "perfbench", "scripts").flatMap(files).map(f => read(f.toString))
      .mkString("\n")
    def isRead(name: String): Boolean =
      Seq("\"" + name + "\"", "'" + name + "'", "$" + name, "${" + name).exists(code.contains)
    val envRef = """SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r
    val docs = Seq("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md",
      "perfbench/README.md").filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    val refs = docs.flatMap(d => envRef.findAllIn(read(d)).map(d -> _)).distinct
    assert(refs.nonEmpty, "no SPARK_GRAFT_* variable found in the docs")
    val unread = refs.filterNot { case (_, name) => isRead(name) }
    assert(unread.isEmpty, s"docs name env variables no code reads: ${unread.mkString(", ")}")
    // control: a documented name with no reader fails, one with a reader
    // passes (the unread name is assembled so this file holds no literal)
    val nope = "SPARK_GRAFT_" + "NOPE"
    assert(envRef.findAllIn(s"set `$nope=1` to").toSeq == Seq(nope) && !isRead(nope))
    assert(isRead("SPARK_GRAFT_CPUS"))
  }

  test("no main source looks up an implicit session") {
    // graft reads a session only through the frame it was handed: the
    // active or default session can be another one in the same JVM (a
    // newSession() frame, a second caller), whose conf and catalog are not
    // the frame's
    val implicitSession = """SparkSession\.active|getActiveSession|getDefaultSession""".r
    val hits = mainSources.flatMap { f =>
      read(f.toString).linesIterator.zipWithIndex.collect {
        case (line, i) if implicitSession.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"implicit session lookups: ${hits.mkString(", ")}")
    // control: the pattern sees each form
    assert(Seq("SparkSession.active.conf", "SparkSession.getActiveSession",
      ".orElse(SparkSession.getDefaultSession)").forall(implicitSession.findFirstIn(_).nonEmpty))
  }

  test("object-level private[graft] vars are exactly the allowlisted hooks and levers") {
    // a mutable global on a production object is a second knob beside the
    // operator's own arguments, and one session's write changes every
    // other session's plans; gates travel as arguments instead. The ones
    // left are spec levers and test/profiling hooks.
    val allowed = Set("Dedup.bandSidecarBuckets", "Dedup.verifyRangeTightCover",
      "Dedup.planAuditHook", "Dedup.lookupAuditHook", "Dedup.phaseHook",
      "Similarity.planAuditHook")
    val owner = """(?m)^(?:\w[\w\[\] ]* )?(object|class|trait) (\w+)""".r
    val global = """(?m)^  private\[graft\] var (\w+)""".r
    def globals(src: String): Seq[String] = global.findAllMatchIn(src).toSeq.flatMap { m =>
      owner.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        .collect { case o if o.group(1) == "object" => s"${o.group(2)}.${m.group(1)}" }
    }
    val found = mainSources.flatMap(f => globals(read(f.toString))).toSet
    assert(found == allowed, s"new: ${(found -- allowed).toSeq.sorted.mkString(", ")}; " +
      s"gone (drop from the allowlist): ${(allowed -- found).toSeq.sorted.mkString(", ")}")
    // control: the pattern sees an object's var and skips a class member's
    assert(globals("object Knobs {\n  private[graft] var gate: Long = 1L\n}\n" +
      "final class Holder {\n  private[graft] var n = 0\n}\n") == Seq("Knobs.gate"))
  }

  test("every gate query has an oracle and vice versa") {
    // today's invariant: the correctness gate is oracle-complete — a queries
    // entry without SQL would silently downgrade to a rows-only check
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.diff(q).isEmpty, s"oracle SQL for nonexistent queries: ${o.diff(q).mkString(", ")}")
    assert(q.diff(o).isEmpty, s"queries without an oracle: ${q.diff(o).mkString(", ")}")
  }
}
