package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard: the operator packages read only the environment
  * variables listed here. Every other tuning decision is a constant
  * or a law-test var, so one operator decision has one code path. A
  * new read must name its reason below, or become a constant. The
  * mains build their local session in one function,
  * `SparkEntry.localSession`. */
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
