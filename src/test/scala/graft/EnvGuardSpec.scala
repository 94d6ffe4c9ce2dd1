package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard: the operator packages read only the environment
  * variables listed here, and keep only the object-level vars listed
  * here. Every other tuning decision is a constant, so one operator
  * decision has one code path. A new read or var must name its reason
  * below, or become a constant. The mains build their local session
  * in one function, `SparkEntry.localSession`. */
class EnvGuardSpec extends AnyFunSuite {

  private val Packages =
    Seq("operators", "functions", "pipeline", "streaming", "multimodal")

  /** variable name -> why it may be read */
  private val Allowed = Map(
    "GRAFT_GRAPH_SHUFFLE_BUDGET_GB" ->
      ("the kNN-graph build's per-chunk disk budget: a deployment " +
        "setting, sized to the deployment's free disk"),
    "SPARK_GRAFT_NTILE_PLAIN_MAX" ->
      "tools/scale_gate.sh lowers it to force the ntile scale branch",
    "SPARK_GRAFT_LM_OCC_AGG" ->
      "tools/scale_gate.sh sets it to force the aggregated LM branch")

  /** a read whose variable name is a string literal */
  private val NamedRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]+)"""".r
  private val AnyRead = """sys\.env|System\.getenv""".r

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("the operator packages read exactly the allow-listed env vars") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root: $root")
    val files = Packages.flatMap { p =>
      val dir = new java.io.File(root, p)
      assert(dir.isDirectory, s"package directory missing: $dir")
      sources(dir)
    }
    val texts = files.map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val unnamed = texts.collect {
      case (f, t) if AnyRead.findAllIn(t).size !=
          NamedRead.findAllIn(t).size => f.getPath
    }
    assert(unnamed.isEmpty,
      s"env reads without a literal variable name: ${unnamed.mkString(", ")}")
    val read = texts.flatMap { case (f, t) =>
      NamedRead.findAllMatchIn(t).map(m => m.group(1) -> f.getName)
    }
    val names = read.map(_._1).toSet
    assert(names == Allowed.keySet,
      s"env reads changed — not allow-listed: " +
        read.filterNot(r => Allowed.contains(r._1)).distinct
          .map { case (n, f) => s"$n ($f)" }.mkString(", ") +
        s"; allow-listed but no longer read: " +
        (Allowed.keySet -- names).mkString(", "))
  }

  /** object member -> why it is a settable var rather than a constant */
  private val AllowedVars = Map(
    "Similarity.KnngRefineOverride" ->
      ("law tests build the ring-only graph (0 refine rounds) as the " +
        "reference the refined and folded graphs are checked against"),
    "Similarity.LastGraphBuild" ->
      ("diagnostics of the last graph build, written by the build and " +
        "read by GraphRecall's report and the chunk-count asserts"),
    "Similarity.GraphBuildConfProbe" ->
      ("called mid-build so a law test can observe that the caller's " +
        "session keeps the default fallback threshold"),
    "Similarity.GraphFoldBroadcastBudget" ->
      ("size gate on the fold's reverse-pass broadcast; a law test sets " +
        "it to 0 to pin the shuffle_hash form row-identical"),
    "Similarity.GraphBuildShuffleBudget" ->
      ("per-chunk disk budget of the graph build (env-sized); law tests " +
        "shrink it to force a multi-chunk build"),
    "TextAnalysis.DriverBpeMaxVocab" ->
      ("vocabulary ceiling of the in-driver BPE trainer; BpeSpec lowers " +
        "it to pin the Spark trainer row-identical"),
    "PersistedIndex.faultHook" ->
      "crash-matrix injection point; None in production")

  /** a top-level declaration, and a member var of one (two-space
    * indent: the body of a top-level object) */
  private val TopLevel =
    """^(?:(?:final|case|abstract|sealed|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+)""".r.unanchored
  private val MemberVar =
    """^  (?:@volatile\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?var\s+(\w+)""".r.unanchored

  test("object-level vars in the operator packages are exactly the " +
      "allow-listed ones") {
    // a test-only switch that keeps a second production form beside
    // the one in use must not come back unnoticed
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root: $root")
    val found = Packages.flatMap(p => sources(new java.io.File(root, p)))
      .flatMap { f =>
        val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8").split("\n").toSeq
        lines.scanLeft(("", "", Option.empty[String])) {
          case ((kind, name, _), line) => line match {
            case TopLevel(k, n) => (k, n, None)
            case MemberVar(v) if kind == "object" => (kind, name, Some(s"$name.$v"))
            case _ => (kind, name, None)
          }
        }.flatMap(_._3)
      }.toSet
    assert(found == AllowedVars.keySet,
      s"object vars not allow-listed: ${(found -- AllowedVars.keySet).mkString(", ")}" +
        s"; allow-listed but gone: ${(AllowedVars.keySet -- found).mkString(", ")}")
  }

  test("SparkSession.builder() appears in src/main only in localSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    val Builder = """SparkSession\s*\.\s*builder""".r
    val hits = sources(root).flatMap { f =>
      val t = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Builder.findAllMatchIn(t).map(m => f.getName -> t.substring(0, m.start))
    }
    assert(hits.map(_._1) == Seq("SparkEntry.scala"),
      s"session builders outside SparkEntry.localSession: ${hits.map(_._1)}")
    // the one builder sits inside localSession's body
    val before = hits.head._2
    assert(before.lastIndexOf("def ") == before.lastIndexOf("def localSession"),
      "SparkEntry's builder is not in localSession")
  }
}
